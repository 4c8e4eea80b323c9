"""Multi-join single-step expansion.

Flink's planner chains stateful joins freely in one SQL step — a 3-way
`FROM a JOIN b ON .. JOIN c ON ..` runs as join(join(a, b), c) with
full-history state at EVERY stage (the reference inherits this whole
surface by delegation, TransformEngine.scala:252-262). This engine's
stateful executors handle one join per step, so a multi-INNER-join step
is expanded here into the equivalent chain of aliased single-join steps:
each intermediate join's per-invocation output (append-only for INNER
joins) becomes the "new slice" of an internal stream view, and the next
join step accumulates its full history in its own state — exactly the
operator tree Flink builds.

Any stage may be LEFT/RIGHT/FULL: a MID-chain outer join's intermediate
emits a pad/retract changelog, which the NEXT stage consumes through the
changelog-aware join executor (operators/changelog_join.py — signed
ledgers, retraction-aware probes), exactly Flink's retraction
propagation between chained join operators. Aggregation over the join,
subqueries, and unqualified column references decline, falling through
to the existing loud rejections.

Column plumbing: every `alias.col` referenced downstream of an
intermediate join is projected through under a mangled name
(`__mj_<alias>__<col>`) and later references are rewritten to it, so
arbitrary projections/conditions survive the split. References must be
alias-qualified; a bare reference to a non-final view's column cannot be
resolved through the intermediate projection, so such steps decline
expansion (detected against the live view schemas).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .classify import split_top_level

_FROM_RE = re.compile(
    r"^\s*SELECT\s+(?P<proj>.*?)\s+FROM\s+(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_SOURCE_RE = re.compile(
    r"^\s*`?(\w+)`?(?:\s+(?:AS\s+)?(\w+))?\s*$", re.IGNORECASE
)
_WHERE_SPLIT_RE = re.compile(r"\bWHERE\b", re.IGNORECASE)
_JOIN_SPLIT_RE = re.compile(r"\bJOIN\b", re.IGNORECASE)
_ON_RE = re.compile(
    r"^\s*`?(\w+)`?"
    r"(?:\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(?P<asof>[`\w.]+))?"
    r"\s+(?:AS\s+)?(?P<alias>\w+)\s+ON\s+(?P<cond>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DECLINE_RE = re.compile(
    r"\b(CROSS|GROUP\s+BY|UNION|DISTINCT|HAVING|OVER|"
    r"MATCH_RECOGNIZE|INTERVAL|ORDER\s+BY|LIMIT)\b"
    r"|TABLE\s*\(|\bSELECT\b.*\bSELECT\b",
    re.IGNORECASE | re.DOTALL,
)
_JOIN_KW_RE = re.compile(
    r"(?:(LEFT|RIGHT|FULL)\s+(?:OUTER\s+)?)?JOIN\b", re.IGNORECASE
)
_QUALIFIED_REF_RE = re.compile(r"\b(\w+)\s*\.\s*`?(\w+)`?")
_BARE_WORD_RE = re.compile(r"(?<![\w.`])(\w+)(?!\s*\.)\b")


@dataclass
class _Parsed:
    proj: str
    sources: list[tuple[str, str]]  # (view, alias) in join order
    conds: list[str]  # conds[k] joins sources[k+1]
    where: str | None
    # Join kind per cond ('' inner, else LEFT/RIGHT/FULL). A MID-chain
    # outer join makes its intermediate an updating stream; the next
    # stage's join then runs through the changelog-aware executor.
    kinds: list[str] = None
    # Per-stage FOR SYSTEM_TIME AS OF time expression, None for regular
    # stages: Flink chains temporal joins freely in one SQL step (a probe
    # enriched by several versioned tables), so a temporal stage expands
    # like any other — its probe becomes the prior intermediate.
    asofs: list[str | None] = None


def _parse(sql: str, known_views: set[str]) -> _Parsed | None:
    if _DECLINE_RE.search(sql):
        return None
    m = _FROM_RE.match(sql.strip())
    if not m:
        return None
    proj, rest = m.group("proj"), m.group("rest")
    where = None
    wm = _WHERE_SPLIT_RE.search(rest)
    if wm:
        rest, where = rest[: wm.start()], rest[wm.end() :]
        if _JOIN_SPLIT_RE.search(where):
            return None
    parts = split_top_level(rest, _JOIN_KW_RE)
    segs, kinds = parts[::2], [(k or "").upper() for k in parts[1::2]]
    if len(segs) < 3:  # FROM source + at least two JOIN segments
        return None
    sm = _SOURCE_RE.match(segs[0])
    if not sm:
        return None
    # A bare first source refers to itself: FROM o JOIN ... ON o.col = ..
    sources = [(sm.group(1), sm.group(2) or sm.group(1))]
    conds: list[str] = []
    asofs: list[str | None] = []
    for seg in segs[1:]:
        jm = _ON_RE.match(seg)
        if not jm:
            return None
        sources.append((jm.group(1), jm.group("alias")))
        conds.append(jm.group("cond").strip())
        asofs.append(jm.group("asof"))
    views = [v for v, _ in sources]
    aliases = [a for _, a in sources]
    if len(set(aliases)) != len(aliases):
        return None
    if any(v not in known_views for v in views):
        return None
    return _Parsed(
        proj=proj.strip(), sources=sources, conds=conds, where=where,
        kinds=kinds, asofs=asofs,
    )


def _mangled(alias: str, col: str) -> str:
    return f"__mj_{alias}__{col}"


def _rewrite_refs(text: str, aliases: set[str], inter: str) -> str:
    """alias.col -> inter.__mj_alias__col for the given earlier aliases."""

    def repl(m: re.Match) -> str:
        a, c = m.group(1), m.group(2)
        if a in aliases:
            return f"{inter}.{_mangled(a, c)}"
        return m.group(0)

    return _QUALIFIED_REF_RE.sub(repl, text)


def expand_multi_join(
    sql: str,
    known_views: set[str],
    view_columns: dict[str, list[str]],
    tag: str,
) -> list[tuple[str, str | None]] | None:
    """Expand an INNER multi-join step into [(sql, alias), ...] chained
    single-join steps (the last alias is None — the caller re-attaches
    the original step's alias). None when the shape doesn't qualify."""
    p = _parse(sql, known_views)
    if p is None:
        return None
    n = len(p.sources)

    # Bare (unqualified) references to a NON-FINAL view's columns can't be
    # threaded through the intermediate projections — decline so the step
    # hits the existing loud rejection instead of failing analysis later.
    earlier_cols = set()
    for v, _ in p.sources[:-1]:
        earlier_cols.update(view_columns.get(v, []))
    downstream_text = " ".join([p.proj, *(p.conds), p.where or ""])
    # Output aliases (`expr AS name`) are not column references.
    downstream_text = re.sub(
        r"\bAS\s+`?\w+`?", " ", downstream_text, flags=re.IGNORECASE
    )
    bare = {
        w
        for w in _BARE_WORD_RE.findall(downstream_text)
        if w in earlier_cols
    }
    # A bare word that is also a column of the FINAL view resolves against
    # it directly — ambiguous either way, decline to stay loud.
    if bare:
        return None

    # Which (alias, col) pairs each intermediate must carry forward.
    def refs_in(text: str) -> set[tuple[str, str]]:
        return {
            (a, c)
            for a, c in _QUALIFIED_REF_RE.findall(text)
            if a in {al for _, al in p.sources}
        }

    steps: list[tuple[str, str | None]] = []
    for i in range(n - 2):
        inter_name = f"{tag}_{i}"
        left_aliases = {a for _, a in p.sources[: i + 2]}
        downstream = " ".join([*p.conds[i + 1 :], p.proj, p.where or ""])
        needed = sorted(
            (a, c) for a, c in refs_in(downstream) if a in left_aliases
        )
        if not needed:
            return None  # nothing projected forward — degenerate, decline
        if i == 0:
            lsrc = f"{p.sources[0][0]} AS {p.sources[0][1]}"
            cond = p.conds[0]
            asof = p.asofs[0]
            proj_items = [f"{a}.{c} AS {_mangled(a, c)}" for a, c in needed]
        else:
            prev = f"{tag}_{i - 1}"
            lref = f"__mjl{i}"
            lsrc = f"{prev} AS {lref}"
            prior_aliases = {a for _, a in p.sources[: i + 1]}
            cond = _rewrite_refs(p.conds[i], prior_aliases, lref)
            asof = (
                _rewrite_refs(p.asofs[i], prior_aliases, lref)
                if p.asofs[i]
                else None
            )
            proj_items = [
                (
                    f"{a}.{c} AS {_mangled(a, c)}"
                    if a == p.sources[i + 1][1]
                    else f"{lref}.{_mangled(a, c)} AS {_mangled(a, c)}"
                )
                for a, c in needed
            ]
        rv, ra = p.sources[i + 1]
        jkw_i = f"{p.kinds[i]} JOIN" if p.kinds[i] else "JOIN"
        tkw = f" FOR SYSTEM_TIME AS OF {asof}" if asof else ""
        steps.append(
            (
                f"SELECT {', '.join(proj_items)} "
                f"FROM {lsrc} {jkw_i} {rv}{tkw} AS {ra} ON {cond}",
                inter_name,
            )
        )

    # Final step: last join over the last intermediate, with the user's
    # projection/WHERE rewritten to the mangled pass-through names.
    prev = f"{tag}_{n - 3}"
    lref = f"__mjl{n - 2}"
    prior_aliases = {a for _, a in p.sources[:-1]}
    cond = _rewrite_refs(p.conds[-1], prior_aliases, lref)
    proj = _rewrite_refs(p.proj, prior_aliases, lref)
    rv, ra = p.sources[-1]
    jkw = f"{p.kinds[-1]} JOIN" if p.kinds[-1] else "JOIN"
    tkw = (
        f" FOR SYSTEM_TIME AS OF {_rewrite_refs(p.asofs[-1], prior_aliases, lref)}"
        if p.asofs[-1]
        else ""
    )
    final = f"SELECT {proj} FROM {prev} AS {lref} {jkw} {rv}{tkw} AS {ra} ON {cond}"
    if p.where is not None:
        final += f" WHERE {_rewrite_refs(p.where, prior_aliases, lref)}"
    steps.append((final, None))
    return steps
