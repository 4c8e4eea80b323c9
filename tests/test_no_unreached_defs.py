"""Every top-level function and class in the package is reached from
outside the tests: some non-test file names it, other than on the line
that defines it, and every module is imported by one or runs as an entry
point. Code that only tests reach is deleted, not kept."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "kamu_engine_flink_spark"


def _word_sites() -> dict[str, list[tuple[pathlib.Path, int]]]:
    """Every identifier-like word in the non-test files -> the (path,
    line) sites naming it."""
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in (PACKAGE, ROOT / "tools", ROOT / "perfbench"):
        files += [
            p for p in sorted(d.rglob("*.py")) if "tests" not in p.relative_to(ROOT).parts
        ]
    sites: dict[str, list] = {}
    for path in files:
        for n, line in enumerate(path.read_text().splitlines(), 1):
            for word in set(re.findall(r"\w+", line)):
                sites.setdefault(word, []).append((path, n))
    return sites


def test_every_package_def_and_module_is_reached_outside_tests():
    sites = _word_sites()
    unreached = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(ROOT)
        src = path.read_text()
        if path.stem != "__init__" and 'if __name__ == "__main__"' not in src:
            # A module is reached when another file names it.
            if all(p == path for p, _ in sites.get(path.stem, [])):
                unreached.append(str(rel))
        for node in ast.parse(src).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or (node.name.startswith("__") and node.name.endswith("__")):
                continue
            if all(site == (path, node.lineno) for site in sites.get(node.name, [])):
                unreached.append(f"{rel}:{node.name}")
    assert unreached == []


def test_no_module_defines_a_top_level_name_twice():
    """A second top-level def, class or assignment of one name silently
    replaces the first at import, leaving the first as dead code."""
    twice = []
    for path in sorted(PACKAGE.rglob("*.py")):
        seen: set[str] = set()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            else:
                continue
            for name in names:
                if name in seen:
                    twice.append(f"{path.relative_to(ROOT)}:{node.lineno}:{name}")
                seen.add(name)
    assert twice == []
