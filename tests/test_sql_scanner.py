"""The scanner for top-level SQL text (`plans/classify.py`): quoted
text is opaque to both primitives, nested parentheses hide their
contents, and unbalanced input is left as written."""

from __future__ import annotations

import re

import pytest

from kamu_engine_flink_spark.plans.classify import (
    mask_sql,
    matching_paren,
    split_top_level,
)
from kamu_engine_flink_spark.plans.dialect import rewrite_query

SETOP = re.compile(r"\b(UNION|EXCEPT)\b(\s+ALL\b)?\s*(?=SELECT\b|\()", re.IGNORECASE)
JOIN = re.compile(r"(?:(LEFT|RIGHT|FULL)\s+(?:OUTER\s+)?)?JOIN\b", re.IGNORECASE)


@pytest.mark.parametrize(
    "primitive, args, expected",
    [
        (split_top_level, ("a, 'x,y' AS tag, sum(v)",), ["a", "'x,y' AS tag", "sum(v)"]),
        (split_top_level, ("'it''s, here', b",), ["'it''s, here'", "b"]),
        (split_top_level, ("`a,b` AS c, \"d,e\"",), ["`a,b` AS c", '"d,e"']),
        (split_top_level, ("f(g(a, b), ')'), c",), ["f(g(a, b), ')')", "c"]),
        (
            split_top_level,
            ("(SELECT a FROM t) UNION (SELECT a FROM u)", SETOP),
            ["(SELECT a FROM t)", "UNION", None, "(SELECT a FROM u)"],
        ),
        (
            split_top_level,
            ("a JOIN (SELECT * FROM b JOIN c ON p) d ON q LEFT OUTER JOIN e ON r", JOIN),
            ["a", None, "(SELECT * FROM b JOIN c ON p) d ON q", "LEFT", "e ON r"],
        ),
        # An unclosed paren hides the rest; a stray one is top level.
        (split_top_level, ("f(a, b",), ["f(a, b"]),
        (split_top_level, ("a, b)",), ["a", "b)"]),
        (matching_paren, (mask_sql("f(a, ')', b) + 1"), 1), 11),
        (matching_paren, (mask_sql("f('it''s (', `(`) x"), 1), 16),
        (matching_paren, (mask_sql("f(g(a), h(b))"), 1), 12),
        (matching_paren, (mask_sql("(A) UNION (B)"), 0), 2),
        (matching_paren, (mask_sql("f(a, '))'"), 1), None),
    ],
)
def test_scanner_primitives(primitive, args, expected):
    assert primitive(*args) == expected


def test_unbalanced_call_is_left_untouched():
    sql = "SELECT SPLIT_INDEX(s, ',', 0 FROM t"
    assert rewrite_query(sql) == sql
