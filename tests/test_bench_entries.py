"""bench.main() and tools/isobench.py run the pinned scale entries from
one table, bench.STRESS_ENTRIES. These tests check the table and its
dispatch without launching Spark."""

from __future__ import annotations

import sys

sys.path.insert(0, ".")
sys.path.insert(0, "tools")
import bench  # noqa: E402
import isobench  # noqa: E402


def test_every_pinned_stress_entry_is_in_the_shared_table():
    pinned = {k for k in bench.PINS if k.startswith(("stress_", "stamp_"))}
    assert pinned
    assert pinned <= set(bench.STRESS_ENTRIES)


def test_join_input_set_pairs_purchases_with_clicks(monkeypatch):
    built = []

    def fake_slices(spark, sf_dir, workdir, name, event_type):
        built.append((name, event_type))
        return [(f"{name}-{i}", i) for i in range(3)]

    monkeypatch.setattr(bench, "_x10_sliced_ledgers", fake_slices)
    cache: dict = {}
    invs = bench.stress_invocations(None, "sf", "wd", "join", cache)
    assert invs == [
        [("purchases", f"purchases-{i}", i), ("clicks", f"clicks-{i}", i)]
        for i in range(3)
    ]
    # Cached per input set: the purchases slices are reused, not rebuilt.
    bench.stress_invocations(None, "sf", "wd", "purchases", cache)
    assert built == [("purchases", "purchase"), ("clicks", "click")]


def test_isobench_runs_every_table_entry_through_bench(monkeypatch):
    calls = []

    def fake_run(spark, sf_dir, workdir, name, tag, cache):
        calls.append(name)
        return 1.0

    monkeypatch.setattr(bench, "run_stress_entry", fake_run)
    monkeypatch.setattr(isobench.entrymod, "queries", lambda: {})
    runner = isobench._Runner(None, "sf", "wd")
    for name in bench.STRESS_ENTRIES:
        assert runner.run_once(name) == 1.0
    assert calls == list(bench.STRESS_ENTRIES)
