"""Stateful MATCH_RECOGNIZE (CEP pattern matching) — a deterministic
online subset of Flink's streaming SQL surface.

The reference hands every SQL step to Flink's planner
(TransformEngine.scala:252-262), which includes row-pattern recognition
(Flink docs "Pattern Recognition"). This executor implements the subset
that admits ONLINE matching with no lookahead beyond the current row —
the classic CEP shapes ("A, then anything until C"):

  SELECT <cols> FROM <view> MATCH_RECOGNIZE (
    [PARTITION BY k1, k2]
    ORDER BY <rowtime>
    MEASURES <FIRST|LAST(V.col [, n]) | V.col | COUNT(V.*) |
              COUNT|SUM|MIN|MAX|AVG(V.col)> AS alias, ...
    [ONE ROW PER MATCH | ALL ROWS PER MATCH]
    [AFTER MATCH SKIP PAST LAST ROW | AFTER MATCH SKIP TO NEXT ROW]
    PATTERN (V1 V2* V3? ... Vn)   -- quantifiers * + ? and bounded
                                  -- {n} {n,} {n,m} greedy (Flink's
                                  -- default), *? +? ?? {n,m}? reluctant;
                                  -- quantified tails suspend until
                                  -- resolved
    DEFINE V AS <predicate over V's own row; PREV(V.col [, n]) and
                 FIRST/LAST(W.col [, n]) match navigation allowed>, ...
  )  -- plus PATTERN (...) WITHIN INTERVAL 'n' UNIT time bounds

Quantifier semantics are exact: the matcher explores branches in
preference order (greedy consumes more first), and an attempt SUSPENDS —
rather than emitting a shorter match — whenever a preferred branch runs
into the processed-rows boundary, which is precisely Flink's NFA rule
that a match emits only once no longer-preferred alternative can still
complete.

PREV(V.col, n) compiles to a lag() column over the ordered partition
(SQL:2016 row navigation — it addresses input rows, not match rows), so
the V-shape DEFINE idiom (`DOWN AS DOWN.price < PREV(DOWN.price)`) runs
entirely JVM-side; the executor retains max-lag context rows below the
match boundary so resumed predicates stay exact across checkpoints.

ALL ROWS PER MATCH is supported with Flink's RUNNING measure semantics
(one output row per matched row, aggregates over the match's rows so
far, all input columns projected).

WITHIN INTERVAL caps every attempt at start_ts + within; once the
watermark passes that cap an incomplete attempt FAILS instead of
suspending, so both suspension latency and retained state are bounded by
the window — the property that makes CEP viable on unbounded streams.

FIRST/LAST(V.col [, n]) inside DEFINE (Flink "Pattern Navigation",
cross-variable allowed) address rows mapped in the CURRENT attempt — the
row under evaluation counts as mapped to its own variable (SQL:2016
RUNNING semantics) — so those predicates are evaluated by the matcher
against the unfolding match state instead of precompiling to boolean
columns; they support comparisons, IS [NOT] NULL, AND/OR/NOT and + - * /
with SQL three-valued logic, and reject richer expressions loudly.

Restrictions vs full Flink (each raises InvalidQueryError): bare
cross-variable references in DEFINE (write LAST(W.col) explicitly) and
NEXT in DEFINE (forward navigation needs lookahead) are out.

Spark-first derivation: DEFINE predicates compile to boolean columns
evaluated JVM-side (whole-stage codegen) BEFORE the per-key fold, so the
Python matcher touches only booleans. Matching distributes as one
applyInPandas over the partition keys. Row-time semantics: only rows at
or under the watermark enter the matcher (later rows could still get
predecessors); a partial match at the processed boundary suspends, and
its rows — exactly the suffix from the current attempt start — persist
to the next invocation. AFTER MATCH SKIP PAST LAST ROW means at most one
active attempt per key, so that suffix IS the whole per-key state.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..plans.dialect import rewrite_query
from ..protocol.model import InvalidQueryError
from .base import (
    StepContext,
    StepResult,
    split_touched_state,
    state_split_worthwhile,
)

SEQ_INPUT = "__seq"
KIND_COL = "__kind"  # 0 = match row, 1 = per-key keep-from marker

_MR_RE = re.compile(
    r"^\s*select\s+(?P<proj>.*?)\s+from\s+(?P<src>[`\w]+)\s+MATCH_RECOGNIZE\s*\("
    r"(?P<body>.*)\)\s*(?:AS\s+[`\w]+\s*)?$",
    re.IGNORECASE | re.DOTALL,
)
_PART_RE = re.compile(r"PARTITION\s+BY\s+(?P<keys>[`\w.]+(?:\s*,\s*[`\w.]+)*)", re.IGNORECASE)
_ORDER_RE = re.compile(r"ORDER\s+BY\s+(?P<col>[`\w.]+)", re.IGNORECASE)
_MEASURES_RE = re.compile(
    r"MEASURES\s+(?P<body>.*?)\s*(?:ONE\s+ROW\s+PER\s+MATCH|ALL\s+ROWS\s+PER\s+MATCH|"
    r"AFTER\s+MATCH|PATTERN)",
    re.IGNORECASE | re.DOTALL,
)
_PATTERN_KW_RE = re.compile(r"\bPATTERN\s*\(", re.IGNORECASE)


def _extract_pattern(body: str) -> str | None:
    """Balanced-paren extraction of the PATTERN (...) text — alternation
    groups nest parens, so a [^)]* regex would stop early."""
    m = _PATTERN_KW_RE.search(body)
    if not m:
        return None
    depth, start = 1, m.end()
    for i in range(start, len(body)):
        if body[i] == "(":
            depth += 1
        elif body[i] == ")":
            depth -= 1
            if depth == 0:
                return body[start:i]
    return None
_WITHIN_RE = re.compile(
    r"WITHIN\s+INTERVAL\s+'(?P<n>\d+)'\s+(?P<unit>\w+)", re.IGNORECASE
)
_DEFINE_RE = re.compile(r"DEFINE\s+(?P<body>.*)$", re.IGNORECASE | re.DOTALL)
_PAT_TOKEN_RE = re.compile(r"([A-Za-z_]\w*)\s*(\*\?|\+\?|\?\?|\*|\+|\?)?")
_MEASURE_RE = re.compile(
    r"^(?:(?P<mode>RUNNING|FINAL)\s+)?"
    r"(?:(?P<fn>FIRST|LAST|COUNT|SUM|MIN|MAX|AVG)\s*\(\s*"
    r"(?P<var1>[A-Za-z_]\w*)\.(?P<col1>[`\w]+|\*)\s*(?:,\s*(?P<off1>\d+)\s*)?\)"
    r"|(?P<special>CLASSIFIER|MATCH_NUMBER)\s*\(\s*\)"
    r"|(?P<var2>[A-Za-z_]\w*)\.(?P<col2>[`\w]+))\s+AS\s+(?P<alias>[`\w]+)$",
    re.IGNORECASE,
)
_ALL_ROWS_RE = re.compile(r"ALL\s+ROWS\s+PER\s+MATCH", re.IGNORECASE)
_AFTER_NEXT_RE = re.compile(r"AFTER\s+MATCH\s+SKIP\s+TO\s+NEXT\s+ROW", re.IGNORECASE)
_AFTER_TO_VAR_RE = re.compile(
    r"AFTER\s+MATCH\s+SKIP\s+TO\s+(FIRST|LAST)\s*\(?\s*([A-Za-z_]\w*)\s*\)?",
    re.IGNORECASE,
)
_AFTER_RE = re.compile(
    r"AFTER\s+MATCH\s+SKIP\s+(?!PAST\s+LAST\s+ROW|TO\s+NEXT\s+ROW|TO\s+(?:FIRST|LAST)\b)",
    re.IGNORECASE,
)


def _split_top_level(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return [p.strip() for p in out if p.strip()]


QUANT_MAP = {
    "": ("one", True),
    "?": ("opt", True),
    "??": ("opt", False),
    "*": ("star", True),
    "*?": ("star", False),
    "+": ("plus", True),
    "+?": ("plus", False),
}


def _split_exclusions(pat: str) -> tuple[str, set[str]]:
    """Strip SQL:2016 row-pattern exclusion markers `{- ... -}` (Flink
    supports them for ALL ROWS PER MATCH output) and return the cleaned
    pattern — the excluded elements still MATCH, they are just omitted
    from the output — plus the variable names inside exclusion sections.
    A variable appearing both inside and outside an exclusion rejects:
    emission filters by variable, so a mixed occurrence would be
    ambiguous."""
    out: list[str] = []
    inside: set[str] = set()
    outside: set[str] = set()
    i, n, depth = 0, len(pat), 0
    while i < n:
        if pat.startswith("{-", i):
            depth += 1
            i += 2
            continue
        if pat.startswith("-}", i):
            if depth == 0:
                raise InvalidQueryError(
                    "MATCH_RECOGNIZE: unbalanced -} in PATTERN"
                )
            depth -= 1
            i += 2
            continue
        m = re.match(r"[A-Za-z_]\w*", pat[i:])
        if m:
            (inside if depth > 0 else outside).add(m.group(0))
            out.append(m.group(0))
            i += m.end()
            continue
        out.append(pat[i])
        i += 1
    if depth:
        raise InvalidQueryError("MATCH_RECOGNIZE: unbalanced {- in PATTERN")
    mixed = sorted(inside & outside)
    if mixed:
        raise InvalidQueryError(
            "MATCH_RECOGNIZE: pattern variable(s) appear both inside and "
            f"outside a {{- -}} exclusion: {mixed}"
        )
    return "".join(out), inside


def _parse_pattern(pat: str):
    """Pattern elements as (vars, quant, greedy) with `vars` a tuple —
    one entry for a plain variable, several for an alternation group
    `(B | C)` (row classified as the FIRST alternative whose predicate
    holds, the SQL:2016 preference order). A quantifier may follow a
    variable or a group."""
    elements = []
    i, n = 0, len(pat)
    while i < n:
        ch = pat[i]
        if ch.isspace():
            i += 1
            continue
        if ch == "(":
            j = pat.find(")", i)
            if j < 0:
                raise InvalidQueryError("MATCH_RECOGNIZE: unbalanced group in PATTERN")
            vars_ = tuple(v.strip() for v in pat[i + 1 : j].split("|") if v.strip())
            if not vars_ or not all(re.fullmatch(r"[A-Za-z_]\w*", v) for v in vars_):
                raise InvalidQueryError(
                    f"MATCH_RECOGNIZE: bad alternation group {pat[i : j + 1]!r}"
                )
            i = j + 1
        else:
            m = re.match(r"[A-Za-z_]\w*", pat[i:])
            if not m:
                raise InvalidQueryError(f"MATCH_RECOGNIZE: bad PATTERN near {pat[i:]!r}")
            vars_ = (m.group(0),)
            i += m.end()
        bm = re.match(r"\s*\{\s*(\d+)\s*(?:(,)\s*(\d+)?)?\s*\}(\??)", pat[i:])
        if bm:
            # Bounded quantifiers {n} / {n,} / {n,m} (+ reluctant '?'),
            # Flink's SQL:2016 surface beyond * + ?.
            mn = int(bm.group(1))
            mx = mn if bm.group(2) is None else (
                int(bm.group(3)) if bm.group(3) is not None else None
            )
            if mx is not None and mx < mn:
                raise InvalidQueryError(
                    f"MATCH_RECOGNIZE: bad quantifier bounds {{{mn},{mx}}}"
                )
            i += bm.end()
            elements.append((vars_, ("range", mn, mx), not bm.group(4)))
            continue
        qm = re.match(r"\s*(\*\?|\+\?|\?\?|\*|\+|\?)", pat[i:])
        quant = qm.group(1) if qm else ""
        if qm:
            i += qm.end()
        q, greedy = QUANT_MAP[quant]
        elements.append((vars_, q, greedy))
    return elements


# --------------------------------------------------------------------------
# FIRST/LAST navigation inside DEFINE (Flink "Pattern Navigation").
#
# LAST(V.col, n) / FIRST(V.col, n) address rows mapped to variable V in
# the CURRENT match attempt (the row under evaluation counts as mapped to
# the variable being defined — SQL:2016 RUNNING semantics), so these
# predicates cannot precompile to per-row boolean columns: the matcher
# evaluates them against (row, pairs) as the attempt unfolds. The
# predicate text is compiled ONCE (driver-side) into a closure tree with
# SQL three-valued logic; only the vars that use navigation pay the
# Python-eval cost — every other DEFINE stays a JVM boolean column.

_NAV_RE = re.compile(
    r"\b(FIRST|LAST)\s*\(\s*([A-Za-z_]\w*)\s*\.\s*([`\w]+)\s*(?:,\s*(\d+))?\s*\)",
    re.IGNORECASE,
)

_PRED_TOKEN_RE = re.compile(
    r"\s*(?:(?P<num>\d+\.\d*|\.\d+|\d+)"
    r"|(?P<str>'(?:[^']|'')*')"
    r"|(?P<op><=|>=|<>|!=|=|<|>|\+|-|\*|/|\(|\))"
    r"|(?P<id>[A-Za-z_]\w*))"
)

_CMP_OPS = {
    "=": lambda a, b: a == b,
    "<>": lambda a, b: a != b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


def _tokenize_pred(pred: str) -> list[tuple[str, Any]]:
    tokens, pos = [], 0
    while pos < len(pred):
        m = _PRED_TOKEN_RE.match(pred, pos)
        if not m or m.end() == pos:
            if pred[pos:].strip():
                raise InvalidQueryError(
                    f"MATCH_RECOGNIZE: unsupported token in navigation DEFINE "
                    f"predicate near {pred[pos:][:30]!r}"
                )
            break
        pos = m.end()
        if m.group("num") is not None:
            v = m.group("num")
            tokens.append(("lit", float(v) if "." in v else int(v)))
        elif m.group("str") is not None:
            tokens.append(("lit", m.group("str")[1:-1].replace("''", "'")))
        elif m.group("op") is not None:
            tokens.append(("op", m.group("op")))
        else:
            tokens.append(("id", m.group("id")))
    return tokens


def _compile_pred(tokens: list[tuple[str, Any]]):
    """Recursive-descent compile of a navigation DEFINE predicate into a
    closure fn(get, nav) -> True | False | None, with SQL three-valued
    logic (a comparison against NULL is UNKNOWN; AND/OR/NOT propagate;
    the matcher treats only True as a match). Grammar: OR < AND < NOT <
    comparison / IS [NOT] NULL < + - < * / < unary - < primary (number,
    string, TRUE/FALSE/NULL, column, __navK, parens). Anything richer
    (functions, CASE, BETWEEN, IN) rejects loudly — write it with these
    or move it out of the navigation predicate."""
    pos = [0]

    def peek():
        return tokens[pos[0]] if pos[0] < len(tokens) else (None, None)

    def take():
        t = peek()
        pos[0] += 1
        return t

    def kw(word):
        tt, tv = peek()
        return tt == "id" and tv.lower() == word

    def p_or():
        left = p_and()
        while kw("or"):
            take()
            right = p_and()

            def f(get, nav, l=left, r=right):
                a, b = l(get, nav), r(get, nav)
                if a is True or b is True:
                    return True
                if a is None or b is None:
                    return None
                return False

            left = f
        return left

    def p_and():
        left = p_not()
        while kw("and"):
            take()
            right = p_not()

            def f(get, nav, l=left, r=right):
                a, b = l(get, nav), r(get, nav)
                if a is False or b is False:
                    return False
                if a is None or b is None:
                    return None
                return True

            left = f
        return left

    def p_not():
        if kw("not"):
            take()
            e = p_not()
            return lambda get, nav: (
                None if (v := e(get, nav)) is None else (not v)
            )
        return p_cmp()

    def p_cmp():
        left = p_add()
        tt, tv = peek()
        if tt == "op" and tv in _CMP_OPS:
            take()
            right = p_add()

            def f(get, nav, l=left, r=right, op=_CMP_OPS[tv]):
                a, b = l(get, nav), r(get, nav)
                return None if a is None or b is None else op(a, b)

            return f
        if kw("is"):
            take()
            neg = False
            if kw("not"):
                take()
                neg = True
            tt3, tv3 = take()
            if not (tt3 == "id" and tv3.lower() == "null"):
                raise InvalidQueryError(
                    "MATCH_RECOGNIZE: expected NULL after IS [NOT] in "
                    "navigation DEFINE predicate"
                )
            return lambda get, nav, l=left, neg=neg: (
                (l(get, nav) is None) != neg
            )
        return left

    def _arith(l, r, opch):
        def f(get, nav):
            a, b = l(get, nav), r(get, nav)
            if a is None or b is None:
                return None
            if opch == "+":
                return a + b
            if opch == "-":
                return a - b
            if opch == "*":
                return a * b
            return None if b == 0 else a / b  # SQL: x / 0 is NULL

        return f

    def p_add():
        left = p_mul()
        while True:
            tt, tv = peek()
            if tt == "op" and tv in ("+", "-"):
                take()
                left = _arith(left, p_mul(), tv)
            else:
                return left

    def p_mul():
        left = p_unary()
        while True:
            tt, tv = peek()
            if tt == "op" and tv in ("*", "/"):
                take()
                left = _arith(left, p_unary(), tv)
            else:
                return left

    def p_unary():
        tt, tv = peek()
        if tt == "op" and tv == "-":
            take()
            e = p_unary()
            return lambda get, nav: (
                None if (v := e(get, nav)) is None else -v
            )
        return p_primary()

    def p_primary():
        tt, tv = take()
        if tt == "lit":
            return lambda get, nav, v=tv: v
        if tt == "op" and tv == "(":
            e = p_or()
            tt2, tv2 = take()
            if not (tt2 == "op" and tv2 == ")"):
                raise InvalidQueryError(
                    "MATCH_RECOGNIZE: unbalanced parens in navigation DEFINE "
                    "predicate"
                )
            return e
        if tt == "id":
            lw = tv.lower()
            if lw == "null":
                return lambda get, nav: None
            if lw == "true":
                return lambda get, nav: True
            if lw == "false":
                return lambda get, nav: False
            if tv.startswith("__nav"):
                return lambda get, nav, k=tv: nav(k)
            return lambda get, nav, c=tv: get(c)
        raise InvalidQueryError(
            f"MATCH_RECOGNIZE: unsupported navigation DEFINE predicate "
            f"element {tv!r}"
        )

    result = p_or()
    if pos[0] != len(tokens):
        raise InvalidQueryError(
            f"MATCH_RECOGNIZE: could not parse navigation DEFINE predicate "
            f"past {tokens[pos[0]]!r} (supported: comparisons, IS [NOT] "
            f"NULL, AND/OR/NOT, + - * /, literals, columns, FIRST/LAST refs)"
        )
    return result


def parse_match_recognize(sql: str):
    m = _MR_RE.search(sql.strip())
    if not m:
        return None
    body = m.group("body")
    all_rows = bool(_ALL_ROWS_RE.search(body))
    tv = _AFTER_TO_VAR_RE.search(body)
    if tv:
        skip_mode = (tv.group(1).lower(), tv.group(2))
    elif _AFTER_NEXT_RE.search(body):
        skip_mode = "next"
    else:
        skip_mode = "past"
    if _AFTER_RE.search(body):
        raise InvalidQueryError(
            "MATCH_RECOGNIZE: supported AFTER MATCH modes are SKIP PAST LAST "
            "ROW, SKIP TO NEXT ROW, and SKIP TO FIRST/LAST(variable)"
        )
    pm = _PART_RE.search(body)
    keys = (
        [k.strip().strip("`").split(".")[-1] for k in pm.group("keys").split(",")]
        if pm
        else []
    )
    om = _ORDER_RE.search(body)
    if not om:
        raise InvalidQueryError("MATCH_RECOGNIZE requires ORDER BY <rowtime>")
    time_col = om.group("col").split(".")[-1].strip("`")
    mm = _MEASURES_RE.search(body)
    if not mm:
        raise InvalidQueryError("MATCH_RECOGNIZE requires a MEASURES clause")
    measures = []
    for item in _split_top_level(mm.group("body")):
        im = _MEASURE_RE.match(item.strip())
        if not im:
            raise InvalidQueryError(
                f"MATCH_RECOGNIZE: unsupported measure {item!r} (supported: "
                f"FIRST/LAST(V.col [, n]), COUNT/SUM/MIN/MAX/AVG(V.col), "
                f"COUNT(V.*), V.col)"
            )
        mode = (im.group("mode") or "").lower()
        off = 0
        if im.group("fn"):
            fn = im.group("fn").lower()
            var, col = im.group("var1"), im.group("col1").strip("`")
            if col == "*" and fn != "count":
                raise InvalidQueryError(f"MATCH_RECOGNIZE: {fn}(V.*) is not valid")
            if im.group("off1") is not None:
                if fn not in ("first", "last"):
                    raise InvalidQueryError(
                        f"MATCH_RECOGNIZE: an offset argument is only valid "
                        f"on FIRST/LAST measures, not {fn.upper()}"
                    )
                off = int(im.group("off1"))
        elif im.group("special"):
            fn, var, col = im.group("special").lower(), None, None
        else:
            fn, var, col = "last", im.group("var2"), im.group("col2").strip("`")
        measures.append((fn, var, col, im.group("alias").strip("`"), mode, off))
    pat_text = _extract_pattern(body)
    if pat_text is None:
        raise InvalidQueryError("MATCH_RECOGNIZE requires a PATTERN clause")
    pat_text, excluded_vars = _split_exclusions(pat_text)
    elements = _parse_pattern(pat_text)
    if not elements:
        raise InvalidQueryError("MATCH_RECOGNIZE: empty PATTERN")
    # A quantified final element is fine: the preference-order matcher
    # suspends a greedy tail at the processed-rows boundary (it may still
    # extend) and resolves it when a non-matching row or the bounded end
    # of input arrives — exactly Flink's NFA emission rule.
    dm = _DEFINE_RE.search(body)
    defines: dict[str, str] = {}
    # var -> (predicate text with __navK placeholders, {placeholder ->
    # (first|last, var, col, offset)}) for DEFINEs using FIRST/LAST
    # navigation — compiled and evaluated matcher-side (_fold_matches).
    dyn_defines: dict[str, tuple[str, dict]] = {}
    pat_vars = {v for vars_, *_ in elements for v in vars_}
    lags: set[tuple[str, int]] = set()  # (column, offset) pairs PREV needs
    if dm:
        for item in _split_top_level(dm.group("body")):
            dm2 = re.match(r"([A-Za-z_]\w*)\s+AS\s+(.*)$", item.strip(),
                           re.IGNORECASE | re.DOTALL)
            if not dm2:
                raise InvalidQueryError(f"MATCH_RECOGNIZE: bad DEFINE item {item!r}")
            var, pred = dm2.group(1), dm2.group(2).strip()

            # PREV(V.col [, n]) — SQL:2016 row-navigation to the n-th
            # previous row of the ordered PARTITION (not the match), so it
            # compiles to a lag() column evaluated JVM-side.
            def _prev_repl(pm):
                pvar, pcol = pm.group(1), pm.group(2).strip("`")
                n = int(pm.group(3) or 1)
                if pvar.upper() != var.upper():
                    raise InvalidQueryError(
                        "MATCH_RECOGNIZE: PREV may reference only the DEFINE's "
                        "own variable"
                    )
                lags.add((pcol, n))
                return f"__lag{n}_{pcol}"

            pred = re.sub(
                r"PREV\s*\(\s*([A-Za-z_]\w*)\.([`\w]+)\s*(?:,\s*(\d+))?\s*\)",
                _prev_repl,
                pred,
                flags=re.IGNORECASE,
            )
            # FIRST/LAST(V.col [, n]) — match-state navigation (cross-var
            # allowed, Flink "Pattern Navigation") — lifts the DEFINE onto
            # the matcher-evaluated path; the placeholders keep the rest
            # of the predicate parseable.
            navs: dict[str, tuple[str, str, str, int]] = {}

            def _nav_repl(nm):
                key = f"__nav{len(navs)}"
                navs[key] = (
                    nm.group(1).lower(),
                    nm.group(2),
                    nm.group(3).strip("`"),
                    int(nm.group(4) or 0),
                )
                return key

            pred = _NAV_RE.sub(_nav_repl, pred)
            if re.search(r"\bNEXT\s*\(", pred, re.IGNORECASE):
                raise InvalidQueryError(
                    "MATCH_RECOGNIZE: NEXT in DEFINE is not supported "
                    "(forward navigation needs lookahead beyond the "
                    "current row)"
                )
            other = re.findall(r"\b([A-Za-z_]\w*)\.", pred)
            if any(o.upper() not in (var.upper(),) for o in other):
                raise InvalidQueryError(
                    "MATCH_RECOGNIZE: DEFINE predicates may reference other "
                    "variables only through FIRST/LAST navigation (bare "
                    "cross-variable references are not supported)"
                )
            stripped = re.sub(rf"\b{var}\.", "", pred)
            if navs:
                for nfn, nvar, _ncol, _off in navs.values():
                    if nvar not in pat_vars:
                        raise InvalidQueryError(
                            f"MATCH_RECOGNIZE: {nfn.upper()} in DEFINE "
                            f"references unknown pattern variable {nvar!r}"
                        )
                _compile_pred(_tokenize_pred(stripped))  # parse-time check
                dyn_defines[var] = (stripped, navs)
            else:
                defines[var] = stripped
    return {
        "proj": m.group("proj").strip(),
        "src": m.group("src").strip("`"),
        "keys": keys,
        "time_col": time_col,
        "measures": measures,
        "elements": elements,
        "defines": defines,
        "dyn_defines": dyn_defines,
        "lags": sorted(lags),
        "all_rows": all_rows,
        "excluded_vars": sorted(excluded_vars),
        "skip_mode": skip_mode,
        "within": _parse_within(body),
    }


def _parse_within(body: str):
    m = _WITHIN_RE.search(body)
    if not m:
        return None
    from ..plans.classify import interval_to_timedelta

    return interval_to_timedelta(m.group("n"), m.group("unit"))


def _measure_type(fn: str, col_type):
    """Aggregate result types mirroring Spark SQL (SUM widens integers to
    BIGINT and floats to DOUBLE; AVG and COUNT are DOUBLE/BIGINT)."""
    if fn == "count":
        return LongType()
    if fn == "avg":
        return DoubleType()
    if fn == "sum":
        s = col_type.simpleString()
        if s in ("tinyint", "smallint", "int", "bigint"):
            return LongType()
        if s in ("float", "double"):
            return DoubleType()
        return col_type  # decimal keeps its type
    return col_type


PENDING = ("pending",)

# NaT's int64 bit pattern: an int64 view of a datetime64[ns] array maps NaT
# here; the fold masks it out of watermark comparisons to keep the pandas
# semantics (NaT <= wm is False).
_NAT_NS = -(2**63)


def try_match(preds, elements, att, i, ei, pairs):
    """Backtracking matcher in PREFERENCE order (greedy: consume more
    first; reluctant: less first). Returns ("match", end_i, pairs),
    PENDING, or None. Preference-order exploration makes the online rule
    exact: the first branch that either completes (emit now) or hits the
    processed-rows boundary while viable (suspend — a preferred longer
    match may complete with future rows) decides the attempt. `att` is
    the per-attempt limit {"n": processed-rows bound, "final": bool} —
    final means the bound cannot move (bounded input, or a WITHIN window
    the watermark already closed), so boundary hits backtrack instead of
    suspending. Recursion depth = pattern length; quantifier runs
    iterate. Shared by the micro-batch fold and the always-on streaming
    operator (streaming/structured.py)."""
    if ei == len(elements):
        return ("match", i, pairs)
    vars_, quant, greedy = elements[ei]
    # A predicate is either a precomputed per-row boolean list (the common,
    # JVM-evaluated case) or a callable (i, pairs) -> bool for DEFINEs
    # using FIRST/LAST navigation, whose truth depends on the rows mapped
    # so far in THIS attempt.
    dyn = any(callable(preds[v]) for v in vars_)
    if len(vars_) == 1 and not dyn:
        p0 = preds[vars_[0]]

        def p(i, prs):
            return p0[i]

        def cv(i, prs):
            return vars_[0]

    else:
        # Alternation group: a row matches if ANY alternative's predicate
        # holds; it is classified as the FIRST holding one (SQL:2016
        # preference order).
        def _ev(v, i, prs):
            pv = preds[v]
            return pv(i, prs) if callable(pv) else pv[i]

        def p(i, prs):
            return any(_ev(v, i, prs) for v in vars_)

        def cv(i, prs):
            return next(v for v in vars_ if _ev(v, i, prs))

    if quant == "one":
        if i >= att["n"]:
            return None if att["final"] else PENDING
        if not p(i, pairs):
            return None
        return try_match(
            preds, elements, att, i + 1, ei + 1, pairs + [(cv(i, pairs), i)]
        )
    if quant == "opt":
        branches = ("take", "skip") if greedy else ("skip", "take")
        for b in branches:
            if b == "take":
                if i >= att["n"]:
                    if not att["final"]:
                        return PENDING
                    continue  # no row to take; other branches only
                if p(i, pairs):
                    r = try_match(
                        preds, elements, att, i + 1, ei + 1,
                        pairs + [(cv(i, pairs), i)],
                    )
                    if r:
                        return r
            else:
                r = try_match(preds, elements, att, i, ei + 1, pairs)
                if r:
                    return r
        return None
    # star / plus / bounded range: maximal run of group-satisfying rows
    # from i (capped at the range's upper bound when given). With a
    # navigation predicate the run is built INCREMENTALLY — row j is
    # tested against the mapping of rows i..j-1 already taken into the
    # run — so any prefix of a valid run is valid and the greedy/reluctant
    # shrink below stays exact.
    if isinstance(quant, tuple):  # ("range", min, max|None)
        min_take, max_take = quant[1], quant[2]
    else:
        min_take, max_take = (1, None) if quant == "plus" else (0, None)
    j = i
    run_maps: list = []
    while j < att["n"] and (max_take is None or j - i < max_take):
        prs = pairs if not dyn else pairs + run_maps
        if not p(j, prs):
            break
        run_maps.append((cv(j, prs), j))
        j += 1
    run_len = j - i
    # The run is extendable by future rows only if it stopped at the
    # processed-rows bound while still below its upper bound.
    hit_boundary = j >= att["n"] and (max_take is None or run_len < max_take)
    if run_len < min_take:
        return PENDING if (hit_boundary and not att["final"]) else None
    if greedy:
        if hit_boundary and not att["final"]:
            return PENDING  # preferred branch wants more rows
        ks = range(run_len, min_take - 1, -1)
    else:
        ks = range(min_take, run_len + 1)
    for k in ks:
        r = try_match(
            preds, elements, att, i + k, ei + 1, pairs + run_maps[:k]
        )
        if r:
            return r
    # Reluctant exhausted every processed length; with an open boundary a
    # longer run could still admit a match.
    return PENDING if (not greedy and hit_boundary and not att["final"]) else None


def _fold_matches(buf, spec, wm_val, process_all=False):
    """Build the per-key matcher fold over `buf` (which must carry the
    SEQ_INPUT total-order column) and return the folded DataFrame:
    KIND 0 rows are completed matches (keys + measures + final row
    coordinates), the KIND 1 row per key carries the keep-from ledger
    offset of the suspended suffix. With process_all, the whole input is
    treated as watermark-complete (bounded/batch execution)."""
    time_col = spec["time_col"]
    # PREV(V.col, n) navigation: lag columns over the ordered partition,
    # JVM-evaluated before the fold. Buffered CONTEXT rows (retained by
    # the executor below the match boundary) make the lag exact at the
    # matcher's resume position.
    with_preds = buf
    if spec.get("lags"):
        from pyspark.sql import Window

        w = Window.partitionBy(
            *[F.col(k) for k in spec["keys"]] or [F.lit(0)]
        ).orderBy(F.col(time_col).asc(), F.col(SEQ_INPUT).asc())
        for col, nlag in spec["lags"]:
            with_preds = with_preds.withColumn(
                f"__lag{nlag}_{col}", F.lag(col, nlag).over(w)
            )
    # DEFINE predicates as JVM-evaluated boolean columns (an undefined
    # variable is TRUE — SQL:2016 semantics, matches any row).
    pred_cols = {}
    for var in [v for vars_, *_ in spec["elements"] for v in vars_]:
        name = f"__p_{var}"
        if name in pred_cols:
            continue
        pred = spec["defines"].get(var)
        with_preds = with_preds.withColumn(
            name,
            F.coalesce(F.expr(rewrite_query(pred, watermark=wm_val)), F.lit(False))
            if pred
            else F.lit(True),
        )
        pred_cols[name] = True

    keys = spec["keys"]
    buf_types = {f.name: f.dataType for f in buf.schema.fields}
    from pyspark.sql.types import StringType

    measure_fields = [
        StructField(
            alias,
            StringType()
            if fn == "classifier"
            else LongType()
            if fn == "match_number"
            else _measure_type(fn, buf_types.get(col, LongType())),
        )
        for fn, var, col, alias, _mode, _off in spec["measures"]
    ]
    all_rows = spec.get("all_rows", False)
    # SQL:2016 row-pattern exclusion `{- X -}`: rows matched inside the
    # excluded section participate in matching and in measures but are
    # omitted from ALL ROWS PER MATCH output (Flink parity).
    excluded_vars = frozenset(spec.get("excluded_vars") or ())
    # ONE ROW PER MATCH: keys + measures. ALL ROWS PER MATCH: every input
    # column + RUNNING measures per matched row (Flink's default
    # running semantics).
    data_cols = (
        [c for c in buf.columns if not c.startswith("__")] if all_rows else keys
    )
    if all_rows:
        # ALL ROWS PER MATCH emits every input column plus the measures: a
        # measure aliased to an input column name would yield duplicate
        # StructType fields and an opaque downstream analysis failure.
        clashes = sorted(
            {f.name for f in measure_fields} & set(data_cols)
        )
        if clashes:
            raise InvalidQueryError(
                "ALL ROWS PER MATCH measure aliases collide with input "
                f"column names: {clashes}; alias the measures differently"
            )
    out_schema = StructType(
        [StructField(c, buf_types[c]) for c in data_cols]
        + measure_fields
        + [
            StructField("__final_ts", buf_types[time_col]),
            StructField("__final_seq", LongType()),
            StructField("__start_seq", LongType()),
            StructField("__keep_from", LongType()),
            StructField("__keep_ts", buf_types[time_col]),
            StructField("__ctx_from", LongType()),
            StructField("__ctx_ts", buf_types[time_col]),
            StructField("__match_count", LongType()),
            StructField(KIND_COL, LongType()),
        ]
    )
    out_names = [f.name for f in out_schema.fields]
    elements = spec["elements"]
    measures = spec["measures"]
    n_elem = len(elements)
    max_lag = max((nlag for _c, nlag in spec.get("lags", [])), default=0)
    has_ctx = "__mrctx" in buf.columns
    has_done = "__mrdone" in buf.columns
    skip_mode_v = spec.get("skip_mode", "past")
    skip_next = skip_mode_v == "next"
    within = spec.get("within")
    use_match_no = any(fn == "match_number" for fn, *_ in spec["measures"])
    has_count = "__mrcount" in buf.columns
    # FIRST/LAST navigation DEFINEs: compiled once driver-side; the
    # closures serialize into the fold with everything else.
    dyn_compiled = {
        v: (_compile_pred(_tokenize_pred(p)), navs)
        for v, (p, navs) in (spec.get("dyn_defines") or {}).items()
    }

    def fold_batch(pdf, starts):
        """Fold every key run of one Arrow chunk. `starts` are the
        0-based offsets where a new key's rows begin (always containing
        0); the chunk arrives pre-sorted by (keys, time, seq) from
        grouped_map_batched. Batch-level numpy/list extraction replaces
        the per-group pandas work the old per-key fold paid — at
        user_id-grade cardinality (~10-100 rows/key) the per-group
        Series/DataFrame construction dominated the whole fold by an
        order of magnitude over the matcher itself (profiled: ~30 s of
        34 s worker CPU on the x10 stress corpus)."""
        import numpy as np
        import pandas as pd

        nb = len(pdf)
        if nb == 0:
            return []
        # ---- batch-level extraction (once per Arrow chunk, not per key)
        ts_series = pd.to_datetime(pdf[time_col])
        ts_dt = ts_series.to_numpy(dtype="datetime64[ns]")
        ts_ns = ts_dt.view("int64")
        seq_arr = pdf[SEQ_INPUT].to_numpy()
        arange_b = np.arange(nb)
        wm_ns = None
        if wm_val is not None:
            wm_x = pd.Timestamp(wm_val)
            if ts_series.dt.tz is not None and wm_x.tz is None:
                wm_x = wm_x.tz_localize(ts_series.dt.tz)
            elif ts_series.dt.tz is None and wm_x.tz is not None:
                wm_x = wm_x.tz_localize(None)
            wm_ns = wm_x.value
        within_ns = None if within is None else int(pd.Timedelta(within).value)
        preds_b = {
            var: pdf[f"__p_{var}"].to_numpy(dtype=bool, na_value=False)
            for vars_, *_ in elements
            for var in vars_
        }
        mrctx_b = (
            pdf["__mrctx"].to_numpy(dtype=bool, na_value=False)
            if has_ctx
            else None
        )
        mrdone_b = (
            pdf["__mrdone"].to_numpy(dtype=bool, na_value=False)
            if has_done
            else None
        )
        mrcount_b = pdf["__mrcount"].to_numpy() if has_count else None

        batch_cols: dict[str, list] = {}

        def _nullify(x):
            if x is None or x is pd.NaT:
                return None
            if isinstance(x, float) and x != x:
                return None
            return x

        def batch_col(c):
            v = batch_cols.get(c)
            if v is None:
                v = [_nullify(x) for x in pdf[c].tolist()]
                batch_cols[c] = v
            return v

        out = []
        bounds_idx = [*starts, nb]
        for gs, ge in zip(bounds_idx, bounds_idx[1:]):
            _fold_group(
                gs, ge, out, np, ts_dt, ts_ns, seq_arr, arange_b, wm_ns,
                within_ns, preds_b, mrctx_b, mrdone_b, mrcount_b, batch_col,
            )
        return out

    def _fold_group(
        gs, ge, out, np, ts_dt_b, ts_ns_b, seq_b, arange_b, wm_ns,
        within_ns, preds_b, mrctx_b, mrdone_b, mrcount_b, batch_col,
    ):
        n = ge - gs
        # Defensive order check, same rule as the old per-key fold: only
        # physically reorder when the slice isn't already (ts, seq)-sorted
        # (it always is when fed by grouped_map_batched; the no-keys path
        # passes one unsorted global group).
        order = None
        if n > 1:
            lex = np.lexsort((seq_b[gs:ge], ts_dt_b[gs:ge]))
            if not np.array_equal(lex, arange_b[:n]):
                order = lex

        def take(arr):
            sl = arr[gs:ge]
            return sl if order is None else sl[order]

        ts_ns_g = take(ts_ns_b)
        colvals: dict[str, list] = {}

        def colv(c):
            v = colvals.get(c)
            if v is None:
                b = batch_col(c)
                if order is None:
                    v = b[gs:ge]
                else:
                    v = [b[gs + j] for j in order]
                colvals[c] = v
            return v

        if process_all:
            n_proc = n
        elif wm_ns is None:
            n_proc = 0
        else:
            # NaT views as int64-min; the explicit mask keeps the old
            # pandas semantics (NaT <= wm is False, never counted).
            n_proc = int(
                ((ts_ns_g <= wm_ns) & (ts_ns_g != _NAT_NS)).sum()
            )
        preds = {
            var: take(preds_b[var])
            for vars_, *_ in elements
            for var in vars_
        }
        # Navigation DEFINEs become callables (i, pairs) -> bool: the
        # current row counts as mapped to the variable being defined
        # (SQL:2016 RUNNING semantics), so LAST(V.col) inside V's own
        # DEFINE is the current row and LAST(V.col, 1) the previous
        # V-mapped row of this attempt.
        for dvar, (dfn, dnavs) in dyn_compiled.items():

            def _mk(dvar=dvar, dfn=dfn, dnavs=dnavs):
                def dpred(i, pairs):
                    def get(col):
                        return colv(col)[i]

                    def nav(key):
                        nfn, nvar, ncol, off = dnavs[key]
                        rows = [ri for pv, ri in pairs if pv == nvar]
                        if nvar == dvar:
                            rows = rows + [i]
                        jx = len(rows) - 1 - off if nfn == "last" else off
                        if jx < 0 or jx >= len(rows):
                            return None
                        return colv(ncol)[rows[jx]]

                    return dfn(get, nav) is True

                return dpred

            preds[dvar] = _mk()

        # In bounded (batch) execution the end of input is FINAL: no
        # future row can extend a preferred branch, so boundary hits
        # backtrack instead of suspending. A WITHIN clause caps each
        # attempt's row range at start_ts + within, and the cap becomes
        # final once the watermark passes it — bounding both suspension
        # time and retained state.
        final = process_all
        att = {"n": n_proc, "final": final}
        # NaT rows sort last but view as int64-min: search only the
        # non-NaT prefix, which is the only sorted part.
        if within_ns is not None:
            ts_ns_valid = ts_ns_g[: int((ts_ns_g != _NAT_NS).sum())]

        def set_attempt(s0):
            if within_ns is None:
                return
            wlimit_ns = ts_ns_g[s0] + within_ns
            att["n"] = min(
                n_proc,
                int(np.searchsorted(ts_ns_valid, wlimit_ns, side="right")),
            )
            att["final"] = final or (wm_ns is not None and wm_ns >= wlimit_ns)

        def try_from(i, ei, pairs):
            return try_match(preds, elements, att, i, ei, pairs)

        def _measure_val(fn, idxs, col, off=0):
            if fn == "count":
                return len(idxs)
            if not idxs:
                return None
            cv = colv(col)
            if fn == "first":
                # FIRST(V.col, n): n-th row mapped to V from the start
                # (SQL:2016 logical navigation); NULL when out of range.
                return cv[idxs[off]] if off < len(idxs) else None
            if fn == "last":
                return cv[idxs[-1 - off]] if off < len(idxs) else None
            vals = [cv[j] for j in idxs if cv[j] is not None]
            if not vals:
                return None
            if fn == "sum":
                return sum(vals)
            if fn == "min":
                return min(vals)
            if fn == "max":
                return max(vals)
            return float(sum(vals)) / len(vals)  # avg

        def _emit(rec, row_i, kind=0, start_i=None):
            rec["__final_ts"] = colv(time_col)[row_i]
            rec["__final_seq"] = colv(SEQ_INPUT)[row_i]
            # Deterministic tertiary order key: with AFTER MATCH SKIP TO
            # NEXT ROW (or ALL ROWS PER MATCH) two overlapping matches can
            # END on the same input row; their (ts, seq) sort keys tie and
            # ledger offset stamping would be nondeterministic without the
            # match's start position breaking the tie.
            rec["__start_seq"] = colv(SEQ_INPUT)[
                start_i if start_i is not None else row_i
            ]
            rec["__keep_from"] = rec["__keep_ts"] = None
            rec["__ctx_from"] = rec["__ctx_ts"] = None
            rec[KIND_COL] = kind
            out.append(rec)

        base_count = (
            int(take(mrcount_b)[0]) if has_count and n else 0
        )
        match_no = [base_count]

        def emit_match(s0, end_i, pairs):
            match_no[0] += 1
            assign: dict[str, list[int]] = {}
            var_of: dict[int, str] = {}
            for var, idx in pairs:
                assign.setdefault(var, []).append(idx)
                var_of[idx] = var
            if all_rows:
                # One output row per matched row; RUNNING measures by
                # default, FINAL on request (SQL:2016 semantics).
                for j in range(s0, end_i):
                    if var_of.get(j) in excluded_vars:
                        # Row-pattern exclusion: matched (and visible to
                        # measures via `assign`) but not emitted.
                        continue
                    rec = {c: colv(c)[j] for c in data_cols}
                    for fn, var, col, alias, mode, off in measures:
                        if fn == "classifier":
                            rec[alias] = var_of.get(j)
                        elif fn == "match_number":
                            rec[alias] = match_no[0]
                        else:
                            idxs = assign.get(var, [])
                            if mode != "final":
                                idxs = [x for x in idxs if x <= j]
                            rec[alias] = _measure_val(fn, idxs, col, off)
                    _emit(rec, j, start_i=s0)
                return assign
            else:
                rec = {k: colv(k)[s0] for k in keys}
                for fn, var, col, alias, _mode, off in measures:
                    if fn == "classifier":
                        rec[alias] = var_of.get(end_i - 1)
                    elif fn == "match_number":
                        rec[alias] = match_no[0]
                    else:
                        rec[alias] = _measure_val(
                            fn, assign.get(var, []), col, off
                        )
                _emit(rec, end_i - 1, start_i=s0)
            return assign

        # Context rows (kept only for PREV navigation) all sort before the
        # match boundary; matching resumes after them.
        n_ctx = int(take(mrctx_b).sum()) if has_ctx else 0
        pending_from = None
        if skip_next:
            # SKIP TO NEXT ROW: every row is an attempt start; matches
            # overlap. A completed start is tombstoned (__mrdone) so a
            # retained suffix never re-emits it.
            done = take(mrdone_b).tolist() if has_done else [False] * n
            for s0 in range(n_ctx, n_proc):
                if done[s0]:
                    continue
                set_attempt(s0)
                r = try_from(s0, 0, [])
                if r is None:
                    continue
                if r[0] == "pending":
                    if pending_from is None:
                        pending_from = s0
                    continue
                emit_match(s0, r[1], r[2])
                done[s0] = True
        else:
            start = n_ctx
            while start < n_proc:
                set_attempt(start)
                r = try_from(start, 0, [])
                if r is None:
                    start += 1
                    continue
                if r[0] == "pending":
                    pending_from = start
                    break
                assign = emit_match(start, r[1], r[2])
                if isinstance(skip_mode_v, tuple):
                    # SKIP TO FIRST/LAST(var): resume at that row of the
                    # match; SQL:2016 requires strict progress.
                    which, svar = skip_mode_v
                    idxs = assign.get(svar, [])
                    resume = (idxs[0] if which == "first" else idxs[-1]) if idxs else None
                    if resume is None or resume <= start:
                        raise RuntimeError(
                            f"AFTER MATCH SKIP TO {which.upper()}({svar}) does "
                            f"not advance past the match start — aborting to "
                            f"avoid an infinite matching loop"
                        )
                    start = resume
                else:
                    start = r[1]  # AFTER MATCH SKIP PAST LAST ROW
        if pending_from is None:
            # No suspended attempt: keep only the not-yet-processed
            # (beyond-watermark) suffix.
            pending_from = n_proc if n_proc < n else None
        # PREV context: retain max_lag rows below the match boundary so
        # the lag columns are exact at the resume position (and at the
        # next slice's first row when nothing is pending).
        boundary = pending_from if pending_from is not None else n
        ctx_idx = max(0, boundary - max_lag) if max_lag else boundary
        counts_changed = use_match_no and match_no[0] != base_count
        if pending_from is None and ctx_idx >= n and not counts_changed:
            return out
        keep_rec: dict[str, Any] = {k: colv(k)[0] if n else None for k in keys}
        for f in measure_fields:
            keep_rec[f.name] = None
        keep_rec["__final_ts"] = None
        keep_rec["__final_seq"] = None
        keep_rec["__start_seq"] = None
        if pending_from is not None:
            keep_rec["__keep_from"] = colv(SEQ_INPUT)[pending_from]
            keep_rec["__keep_ts"] = colv(time_col)[pending_from]
        else:
            keep_rec["__keep_from"] = keep_rec["__keep_ts"] = None
        if ctx_idx < n:
            keep_rec["__ctx_from"] = colv(SEQ_INPUT)[ctx_idx]
            keep_rec["__ctx_ts"] = colv(time_col)[ctx_idx]
        else:
            keep_rec["__ctx_from"] = keep_rec["__ctx_ts"] = None
        keep_rec["__match_count"] = match_no[0] if use_match_no else None
        keep_rec[KIND_COL] = 1
        if (
            keep_rec["__keep_from"] is not None
            or keep_rec["__ctx_from"] is not None
            or counts_changed
        ):
            out.append(keep_rec)
            if skip_next and not process_all:
                # Tombstone every completed start inside the retained
                # suffix so the next invocation skips it.
                for d in range(boundary, n_proc):
                    if done[d]:
                        rec = {k: colv(k)[0] for k in keys}
                        _emit(rec, d, kind=2)
        return out

    if keys:
        # Batch-amortized grouped map: at user_id-grade key cardinality a
        # per-key applyInPandas pays ~0.5 ms of framework overhead per key
        # (one Arrow round-trip each); the mapInPandas run-splitter folds
        # thousands of contiguous key groups per Arrow batch instead.
        from ..functions.grouped import grouped_map_batched

        return grouped_map_batched(
            with_preds,
            keys,
            fold_batch,
            out_schema,
            sort_cols=[time_col, SEQ_INPUT],
        )

    def fold(pdf):
        import pandas as pd

        # One global group spanning the whole frame (and unsorted input:
        # _fold_group's order check handles the physical sort).
        return pd.DataFrame(fold_batch(pdf, [0]), columns=out_names)

    return with_preds.groupBy(F.lit(0).alias("__gk")).applyInPandas(fold, out_schema)


def match_recognize_batch(spark, df, sql: str):
    """Bounded/batch MATCH_RECOGNIZE over `df` (whole input treated as
    watermark-complete). The FROM clause of `sql` must name a view; `df`
    is used as that relation and must carry a total-order `__seq` column.
    Returns one row per match: partition keys + measures."""
    spec = parse_match_recognize(sql)
    if spec is None:
        raise InvalidQueryError("unsupported MATCH_RECOGNIZE shape")
    if SEQ_INPUT not in df.columns:
        raise InvalidQueryError("MATCH_RECOGNIZE requires a __seq total-order column")
    folded = _fold_matches(df, spec, wm_val=None, process_all=True)
    matches = folded.filter(F.col(KIND_COL) == 0).drop(
        "__keep_from", "__keep_ts", "__ctx_from", "__ctx_ts", "__match_count",
        KIND_COL, "__final_ts", "__final_seq", "__start_seq",
    )
    if spec["proj"] != "*":
        view_name = "__mr_batch"
        matches.createOrReplaceTempView(view_name)
        return spark.sql(f"SELECT {spec['proj']} FROM {view_name}")
    return matches


def execute_match_recognize(ctx: StepContext, sql: str) -> StepResult:
    spec = parse_match_recognize(sql)
    if spec is None:
        raise InvalidQueryError("unsupported MATCH_RECOGNIZE shape")
    src = spec["src"]
    if src not in ctx.views:
        raise InvalidQueryError(f"MATCH_RECOGNIZE reads unknown view {src!r}")
    prev_wm = ctx.prev_wms.get(src)
    new_wm = ctx.new_wms.get(src)
    incoming = ctx.views[src]
    if SEQ_INPUT not in incoming.columns:
        raise InvalidQueryError("MATCH_RECOGNIZE requires ledger-offset sequencing")
    time_col = spec["time_col"]
    t = F.col(time_col)
    if prev_wm is not None:
        incoming = incoming.filter(t > F.lit(prev_wm))
    max_lag = max((nlag for _c, nlag in spec.get("lags", [])), default=0)
    if max_lag:
        # PREV navigation needs a few already-consumed rows as lag
        # context; they carry a marker so matching never revisits them.
        incoming = incoming.withColumn("__mrctx", F.lit(False))
    skip_next = spec.get("skip_mode") == "next"
    if skip_next:
        # SKIP TO NEXT ROW: completed attempt starts stay in the retained
        # suffix (matches overlap) — the tombstone flag stops re-emission.
        incoming = incoming.withColumn("__mrdone", F.lit(False))

    buffer_name = f"{ctx.step_key}-mr-buffer"
    keys = spec["keys"]
    untouched_buf = None
    if ctx.state.has_df(buffer_name):
        prev_buf = ctx.state.load_df(buffer_name, schema=incoming.schema)
        if keys and state_split_worthwhile(ctx, buffer_name, src):
            # Touched-keys NFA: a key's emissions can only change through a
            # new slice row, a buffered row this watermark advance confirms,
            # OR a WITHIN horizon crossing the watermark (below) — probe the
            # (bucketed) buffer with the union of those key sets (semi/anti,
            # exchange-free on the buffer side) and run the Python matcher
            # over the touched subset alone. Untouched keys' suffixes pass
            # through state unchanged: a FAILED expired start can't complete
            # later, and a suspended-but-satisfied one is covered by the
            # expiry probe the instant it becomes finalizable.
            incoming = ctx.pin(incoming)
            released = prev_buf
            if prev_wm is not None:
                released = released.filter(t > F.lit(prev_wm))
            released = (
                released.filter(t <= F.lit(new_wm))
                if new_wm is not None
                else released.limit(0)
            )
            probe = incoming.select(*keys).unionByName(released.select(*keys))
            within = spec.get("within")
            if within is not None and new_wm is not None:
                # A greedy attempt that already satisfies the pattern (e.g.
                # PATTERN (A B*) WITHIN ...) suspends awaiting more rows and
                # is finalized by WATERMARK ADVANCE ALONE once
                # wm >= start_ts + within — no slice or released row touches
                # its key. Probe buffered rows whose WITHIN horizon falls in
                # (prev_wm, new_wm]: exactly the attempts that may finalize
                # on this advance (ADVICE.md r5, high).
                expiring = prev_buf.filter(t <= F.lit(new_wm - within))
                if prev_wm is not None:
                    expiring = expiring.filter(t > F.lit(prev_wm - within))
                probe = probe.unionByName(expiring.select(*keys))
            active_buf, untouched_buf = split_touched_state(prev_buf, keys, probe)
            buf = ctx.pin(active_buf.unionByName(incoming))
        else:
            buf = ctx.pin(prev_buf.unionByName(incoming))
    else:
        buf = incoming
    measures = spec["measures"]
    use_match_no = any(fn == "match_number" for fn, *_ in measures)
    fold_input = buf
    counts_name = f"{ctx.step_key}-mr-counts"
    if use_match_no:
        # MATCH_NUMBER() is a per-partition ordinal over the stream's
        # lifetime — a tiny per-key counter state joined in as a column.
        from pyspark.sql.types import StructField as _SF
        from pyspark.sql.types import StructType as _ST

        buf_types = {f.name: f.dataType for f in buf.schema.fields}
        counts_schema = _ST(
            [_SF(k, buf_types[k]) for k in keys]
            + [_SF("__mrcount", LongType())]
        )
        old_counts = ctx.state.load_df(counts_name, schema=counts_schema)
        if keys:
            # No broadcast hint: old_counts is one row per active partition
            # key — unbounded at scale; size-based planning broadcasts it
            # only when it actually fits (cf. window_agg.py session join).
            fold_input = buf.join(old_counts, keys, "left")
        else:
            fold_input = buf.crossJoin(
                F.broadcast(old_counts.limit(1))
            ) if old_counts.take(1) else buf.withColumn(
                "__mrcount", F.lit(None).cast("long")
            )
        fold_input = fold_input.withColumn(
            "__mrcount", F.coalesce(F.col("__mrcount"), F.lit(0))
        )
    folded = ctx.pin(_fold_matches(fold_input, spec, wm_val=new_wm))
    if use_match_no:
        new_counts = folded.filter(
            (F.col(KIND_COL) == 1) & F.col("__match_count").isNotNull()
        ).select(*keys, F.col("__match_count").alias("__mrcount"))
        if keys:
            # The anti side reads the bucketed counts scan exchange-free
            # and stays key-partitioned into the save.
            merged_counts = old_counts.join(
                new_counts, keys, "left_anti"
            ).unionByName(new_counts)
        else:
            # Single global key: the new marker (if any) supersedes.
            merged_counts = new_counts if new_counts.take(1) else old_counts
        ctx.state.save_df(
            counts_name,
            merged_counts,
            bucket_by=keys if (keys and untouched_buf is not None) else None,
            pre_partitioned=untouched_buf is not None,
        )

    # State: per key, the suffix from the first row still in play (plus
    # max_lag context rows below it when PREV is used). Boundaries are
    # LEXICOGRAPHIC (rowtime, ledger offset) pairs — the matcher's sort
    # order; the ledger offset alone is not monotone with it, and a
    # seq-only filter would re-retain consumed rows that sort earlier.
    marker_cols = ["__keep_from", "__keep_ts", "__ctx_from", "__ctx_ts"]
    markers = folded.filter(F.col(KIND_COL) == 1).select(
        *[F.col(k).alias(f"__m_{k}") for k in keys], *marker_cols
    )
    if keys:
        cond = None
        for k in keys:
            c = F.col(k).eqNullSafe(F.col(f"__m_{k}"))
            cond = c if cond is None else (cond & c)
        # Null-safe equi-join on the keys; no broadcast hint — markers is
        # one row per active key (unbounded at user_id-grade cardinality).
        joined = buf.join(markers, cond, "inner")
    else:
        # Keyless pattern: markers is a single global row — broadcast is
        # provably bounded here.
        joined = buf.crossJoin(F.broadcast(markers))

    def lex_ge(bts, bseq):
        return (t > F.col(bts)) | ((t == F.col(bts)) & (F.col(SEQ_INPUT) >= F.col(bseq)))

    if max_lag:
        retained = joined.filter(
            F.col("__ctx_from").isNotNull() & lex_ge("__ctx_ts", "__ctx_from")
        )
        is_match_row = F.col("__keep_from").isNotNull() & lex_ge(
            "__keep_ts", "__keep_from"
        )
        still_open = retained.withColumn("__mrctx", ~is_match_row).select(*buf.columns)
    else:
        still_open = joined.filter(
            F.col("__keep_from").isNotNull() & lex_ge("__keep_ts", "__keep_from")
        ).select(*buf.columns)
    if skip_next:
        tombs = folded.filter(F.col(KIND_COL) == 2).select(
            *[F.col(k).alias(f"__t_{k}") for k in keys],
            F.col("__final_ts").alias("__t_ts"),
            F.col("__final_seq").alias("__t_seq"),
            F.lit(True).alias("__t_hit"),
        )
        tcond = (t == F.col("__t_ts")) & (F.col(SEQ_INPUT) == F.col("__t_seq"))
        for k in keys:
            tcond = tcond & F.col(k).eqNullSafe(F.col(f"__t_{k}"))
        # tombs is O(matches this invocation) — unbounded; no hint.
        still_open = (
            still_open.join(tombs, tcond, "left")
            .withColumn(
                "__mrdone",
                F.col("__mrdone") | F.coalesce(F.col("__t_hit"), F.lit(False)),
            )
            .select(*buf.columns)
        )
    # Bucket the buffer only when the split engaged (the gate found
    # state >> slice): when every key is touched anyway, the bucketed
    # write's extra exchange is pure overhead on the hot path, and the
    # split path accepts a plain previous layout (first split pays one
    # state shuffle, then stays bucketed).
    if untouched_buf is not None:
        still_open = untouched_buf.unionByName(still_open)
        ctx.state.save_df(
            buffer_name, still_open, bucket_by=keys, pre_partitioned=True
        )
    else:
        ctx.state.save_df(buffer_name, still_open)

    matches = folded.filter(F.col(KIND_COL) == 0).drop(*marker_cols, KIND_COL)

    # Outer projection: SELECT * keeps (keys + measures); otherwise apply
    # the user's column list over the match relation.
    view_name = f"__mr_{ctx.step_key.replace('-', '_')}"
    matches.createOrReplaceTempView(view_name)
    proj = spec["proj"]
    if proj == "*":
        # ONE ROW: keys + measures; ALL ROWS: input columns + measures —
        # both are exactly the non-internal columns of the match relation.
        sel = ", ".join(c for c in matches.columns if not c.startswith("__"))
    else:
        sel = proj
    result = ctx.spark.sql(
        f"SELECT __final_ts, __final_seq, __start_seq, {sel} FROM {view_name}"
    )
    return StepResult(
        df=result,
        watermark=new_wm,
        # __start_seq breaks (end ts, end seq) ties between overlapping
        # matches that end on the same row (SKIP TO NEXT ROW / ALL ROWS),
        # keeping ledger offset stamping deterministic across retries.
        order_cols=["__final_ts", "__final_seq", "__start_seq"],
    )
