"""Top-level SQL text is scanned in one place: `plans/classify.py`'s
`mask_sql`, `split_top_level` and `matching_paren`. No other function in
the package keeps its own nesting-depth counter over SQL text."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "kamu_engine_flink_spark"

# (module, function) pairs allowed to count nesting depth: the scanner
# itself, and the PATTERN `{- -}` exclusion grammar, which is not SQL.
ALLOWED = {
    ("plans/classify.py", "mask_sql"),
    ("plans/classify.py", "split_top_level"),
    ("plans/classify.py", "matching_paren"),
    ("operators/match_recognize.py", "_split_exclusions"),
}
DELIMITERS = {"(", ")", "{-", "-}"}


def _own_nodes(fn: ast.AST):
    """The nodes of `fn`'s body, without those of functions it defines."""
    stack = list(fn.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        yield node
        stack.extend(ast.iter_child_nodes(node))


def _counts_depth(fn: ast.AST) -> bool:
    """True when `fn` raises and lowers one local counter and names a
    bracket delimiter: the shape of a hand-rolled depth scan."""
    raised, lowered, delimiters = set(), set(), False
    for node in _own_nodes(fn):
        if isinstance(node, ast.AugAssign) and isinstance(node.target, ast.Name):
            if isinstance(node.op, ast.Add):
                raised.add(node.target.id)
            elif isinstance(node.op, ast.Sub):
                lowered.add(node.target.id)
        elif isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name):
            name = node.targets[0].id
            if any(
                isinstance(b, ast.BinOp)
                and isinstance(b.op, ast.Sub)
                and isinstance(b.left, ast.Name)
                and b.left.id == name
                for b in ast.walk(node.value)
            ):
                lowered.add(name)  # `d = max(0, d - 1)`
        elif isinstance(node, ast.Constant) and node.value in DELIMITERS:
            delimiters = True
    return delimiters and bool(raised & lowered)


def test_only_the_scanner_counts_nesting_depth():
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()
        for fn in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
                and (module, fn.name) not in ALLOWED
                and _counts_depth(fn)
            ):
                hits.append(f"{module}:{fn.name}")
    assert hits == []

