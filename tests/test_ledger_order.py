"""Ledger order from the source: a slice file of one row group scans in
one task, in file order, and the driver-side check
(`serial_scan_in_ledger_order`) lets a map's output over such a file be
numbered by position (transform._assemble_output) instead of sorted by
`__seq`.

A map over an input that passes the check must write exactly what the
sorted path writes; inputs that fail it (rows permuted inside a file,
duplicate offsets, several row groups, several files) must take the
sorted path and still come out in offset order."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kamu_engine_flink_spark.operators.base import StepContext
from kamu_engine_flink_spark.sources.parquet import (
    read_parquet_slices,
    serial_scan_in_ledger_order,
)

from .helpers import TransformRunner, assert_same_output, ts

WHERE_MAP = "SELECT event_time, symbol, price FROM tickers WHERE price % 3 <> 0"


def _ledger_file(path, offsets, row_group_size=None):
    """offset plus an incompressible payload, so a file spans several
    scan splits at the default split size."""
    rng = np.random.default_rng(len(offsets))
    pq.write_table(
        pa.table(
            {
                "offset": pa.array(offsets, pa.int64()),
                "payload": pa.array(rng.random(len(offsets))),
            }
        ),
        path,
        row_group_size=row_group_size,
    )
    return path


def test_one_row_group_reads_in_file_order(spark, tmp_path):
    """A file of one row group that the default split size cuts into
    several splits: one split holds every row, and after coalesce(1)
    every row sits at position offset - first."""
    p = _ledger_file(str(tmp_path / "s.parquet"), np.arange(1000, 1_001_000))
    assert pq.ParquetFile(p).num_row_groups == 1
    df = read_parquet_slices(spark, [p])
    assert df.rdd.getNumPartitions() > 1  # the file is cut into splits
    per_task = df.groupBy(F.spark_partition_id()).count().collect()
    assert len(per_task) == 1  # ...but one task reads the row group
    misplaced = (
        df.coalesce(1)
        .withColumn("pos", F.monotonically_increasing_id())
        .filter(F.col("pos") != F.col("offset") - 1000)
        .count()
    )
    assert misplaced == 0


def test_order_check(tmp_path):
    def f(name, offsets, rg=None):
        return _ledger_file(str(tmp_path / f"{name}.parquet"), offsets, rg)

    a, b = f("a", np.arange(0, 1000)), f("b", np.arange(1000, 1500))
    assert serial_scan_in_ledger_order([a], "offset")
    assert serial_scan_in_ledger_order([f("empty", np.arange(0))], "offset")
    # Several files answer False even in ledger order (one scan over them
    # packs splits by size, not by list order), as do several row groups
    # (their scan may run in parallel).
    assert not serial_scan_in_ledger_order([a, b], "offset")
    assert not serial_scan_in_ledger_order([], "offset")
    assert not serial_scan_in_ledger_order([f("rgs", np.arange(0, 1000), 500)], "offset")
    # A tie, and two rows out of order.
    tie = np.arange(0, 1000)
    tie[500] = 499
    assert not serial_scan_in_ledger_order([f("tie", tie)], "offset")
    swapped = np.arange(0, 1000)
    swapped[[10, 11]] = swapped[[11, 10]]
    assert not serial_scan_in_ledger_order([f("swapped", swapped)], "offset")
    # Unreadable or non-local inputs count as not ordered.
    assert not serial_scan_in_ledger_order([a], "no_such_column")
    assert not serial_scan_in_ledger_order(["s3://bucket/a.parquet"], "offset")
    junk = tmp_path / "junk.parquet"
    junk.write_bytes(b"not parquet")
    assert not serial_scan_in_ledger_order([str(junk)], "offset")


def _ticker_file(path, offsets, row_group_size=None):
    """Ticker slice whose price carries the row's offset (mod 2^31)."""
    n = len(offsets)
    pq.write_table(
        pa.table(
            {
                "offset": pa.array(offsets, pa.int64()),
                "op": pa.array(np.zeros(n, np.int32)),
                "system_time": pa.array([ts(5)] * n, pa.timestamp("ms", tz="UTC")),
                "event_time": pa.array(
                    [ts(1)] * n, pa.timestamp("ms", tz="UTC")
                ),
                "symbol": pa.array([f"S{o % 7}" for o in offsets]),
                "price": pa.array(np.asarray(offsets, np.int32)),
            }
        ),
        path,
        row_group_size=row_group_size,
    )
    return path


def _run_chain(spark, base, slices, row_group_size=None):
    """One WHERE-map invocation per entry of `slices` (one offset vector
    per file); returns [(response, output path)]."""
    runner = TransformRunner(spark, base, queries=[(WHERE_MAP, None)])
    out = []
    for i, files in enumerate(slices):
        paths = [
            _ticker_file(str(base / f"in{i}_{j}.parquet"), offs, row_group_size)
            for j, offs in enumerate(files)
        ]
        out.append(
            runner.run(
                [{"alias": "tickers", "data_paths": paths,
                  "schema_file": paths[0], "watermark": ts(1)}],
                system_time=ts(5 + i),
            )
        )
    return out


def test_positional_output_equals_sorted(spark, tmp_path, monkeypatch):
    """Two invocations over ordered one-row-group slices: the positional
    output equals the one forced through the `__seq` sort."""
    slices = [[np.arange(0, 9000)], [np.arange(9000, 14000)]]
    (tmp_path / "pos").mkdir()
    (tmp_path / "sorted").mkdir()
    answers, real = [], StepContext.seq_ordered

    def recording(self, view):
        answers.append(real(self, view))
        return answers[-1]

    monkeypatch.setattr(StepContext, "seq_ordered", recording)
    positional = _run_chain(spark, tmp_path / "pos", slices)
    assert answers == [True, True]  # both invocations took the positional path
    monkeypatch.setattr(StepContext, "seq_ordered", lambda self, view: False)
    forced = _run_chain(spark, tmp_path / "sorted", slices)
    for (r1, p1), (r2, p2) in zip(positional, forced):
        assert r1.new_offset_interval == r2.new_offset_interval
        assert_same_output(p1, p2)
    oi = positional[1][0].new_offset_interval
    prices = pq.read_table(positional[1][1]).column("price").to_pylist()
    assert prices == [p for p in range(9000, 14000) if p % 3]
    assert oi.end - oi.start + 1 == len(prices)


def test_unordered_inputs_take_the_sorted_path(spark, tmp_path):
    rng = np.random.default_rng(3)
    cases = {
        "permuted": ([rng.permutation(2000)], None),
        "duplicates": ([np.concatenate([np.arange(0, 1000), np.arange(999, 2000)])], None),
        "row_groups": ([np.arange(0, 2000)], 300),
        "files_out_of_order": ([np.arange(1000, 2000), np.arange(0, 1000)], None),
        "files_in_order": ([np.arange(0, 1000), np.arange(1000, 2000)], None),
    }
    for name, (files, row_group_size) in cases.items():
        base = tmp_path / name
        base.mkdir()
        [(resp, out)] = _run_chain(spark, base, [files], row_group_size)
        paths = sorted(str(p) for p in base.glob("in0_*.parquet"))
        assert not serial_scan_in_ledger_order(paths, "offset"), name
        table = pq.read_table(out)
        want = sorted(int(o) for f in files for o in f if o % 3)
        assert table.column("price").to_pylist() == want, name
        assert table.column("offset").to_pylist() == list(range(len(want)))
        assert resp.new_offset_interval.end == len(want) - 1


def test_order_check_runs_only_when_output_can_use_it(spark, tmp_path, monkeypatch):
    """A raw input's offsets are read only for a map whose emission
    reaches the output through order-preserving maps; a map that feeds
    an aggregation never asks."""
    import kamu_engine_flink_spark.operators.base as base

    checked, real = [], base.serial_scan_in_ledger_order

    def spy(paths, col):
        checked.append(paths)
        return real(paths, col)

    monkeypatch.setattr(base, "serial_scan_in_ledger_order", spy)
    p = _ticker_file(str(tmp_path / "in.parquet"), np.arange(0, 3000))
    inp = [{"alias": "tickers", "data_paths": [p], "schema_file": p,
            "watermark": ts(1)}]
    chains = {
        "to_agg": [(WHERE_MAP, "m"),
                   ("SELECT max(event_time) AS event_time, symbol, count(*) AS n "
                    "FROM m GROUP BY symbol", None)],
        "to_output": [(WHERE_MAP, "m"),
                      ("SELECT event_time, symbol, price FROM m WHERE price > 5", None)],
    }
    calls = {}
    for name, queries in chains.items():
        (tmp_path / name).mkdir()
        checked.clear()
        resp, out = TransformRunner(spark, tmp_path / name, queries=queries).run(
            inp, system_time=ts(5)
        )
        calls[name] = len(checked)
    assert calls == {"to_agg": 0, "to_output": 1}
    prices = pq.read_table(out).column("price").to_pylist()
    assert prices == [p for p in range(6, 3000) if p % 3]
