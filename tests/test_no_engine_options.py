"""The engine has no `spark.kamu.*` options: each decision is made from
what the engine can observe, or fixed in code."""

from __future__ import annotations

import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "kamu_engine_flink_spark"


def test_package_reads_no_spark_kamu_options():
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "spark.kamu." in line
    ]
    assert hits == []
