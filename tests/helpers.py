"""Test helpers mirroring the reference's fixtures and runner plumbing.

ts() replicates TimeHelpers.scala:14-18 (2000-01-<day> UTC, ms precision).
write_input_slice() plays the role of withInputData (writes a parquet slice
with the four system columns). run_transform() is the in-process entry
point — same shape as the reference's functional tests
(FunctionalAggregationTest.scala:21-99).
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from kamu_engine_flink_spark.engine.transform import execute_transform
from kamu_engine_flink_spark.protocol.model import (
    DatasetVocabulary,
    SqlQueryStep,
    TemporalTable,
    Transform,
    TransformRequest,
    TransformRequestInput,
    Watermark,
)


def ts(day: int, hour: int = 0, minute: int = 0) -> datetime:
    return datetime(2000, 1, day, hour, minute, tzinfo=timezone.utc)


def write_input_slice(path: str, columns: dict[str, list], types: dict[str, pa.DataType]):
    """Write one parquet slice file with explicit arrow types."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    arrays = {
        name: pa.array(values, type=types[name]) for name, values in columns.items()
    }
    pq.write_table(pa.table(arrays), path, compression="snappy")


def ticker_slice(path: str, rows: list[tuple]):
    """rows: (offset, op, system_time, event_time, symbol, price)"""
    cols = list(zip(*rows)) if rows else [[], [], [], [], [], []]
    write_input_slice(
        path,
        {
            "offset": list(cols[0]),
            "op": list(cols[1]),
            "system_time": list(cols[2]),
            "event_time": list(cols[3]),
            "symbol": list(cols[4]),
            "price": list(cols[5]),
        },
        {
            "offset": pa.int64(),
            "op": pa.int32(),
            "system_time": pa.timestamp("ms", tz="UTC"),
            "event_time": pa.timestamp("ms", tz="UTC"),
            "symbol": pa.string(),
            "price": pa.int32(),
        },
    )


def assert_same_output(path_a: str, path_b: str):
    """Two output files hold the same data: same schema, same row-group
    count, equal tables (every column, file row order). Byte equality is
    too strict across JVMs: parquet-mr lists a column chunk's encodings
    in a varying order, so equal tables can hash differently."""
    fa, fb = pq.ParquetFile(path_a), pq.ParquetFile(path_b)
    assert fa.schema_arrow == fb.schema_arrow
    assert fa.metadata.num_row_groups == fb.metadata.num_row_groups
    assert fa.read().equals(fb.read())


class TransformRunner:
    """Multi-invocation transform driver with checkpoint chaining."""

    def __init__(self, spark, tmpdir: str, queries, temporal_tables=(), vocab=None):
        self.spark = spark
        self.tmpdir = str(tmpdir)
        self.queries = queries
        self.temporal_tables = list(temporal_tables)
        self.vocab = vocab or DatasetVocabulary()
        self.run_index = 0
        self.prev_checkpoint = None
        self.next_offset = 0

    def run(self, inputs: list[dict], system_time: datetime):
        """inputs: [{alias, data_paths, schema_file, watermark?, vocab?,
        offset_interval?}]"""
        self.run_index += 1
        new_checkpoint = os.path.join(self.tmpdir, f"checkpoint-{self.run_index}")
        out_path = os.path.join(self.tmpdir, f"out-{self.run_index}.parquet")
        request = TransformRequest(
            transform=Transform(
                queries=[
                    SqlQueryStep(query=q, alias=a) for q, a in self.queries
                ],
                temporal_tables=[
                    TemporalTable(
                        name=n,
                        primary_key=[pk] if isinstance(pk, str) else list(pk),
                    )
                    for n, pk in self.temporal_tables
                ],
            ),
            query_inputs=[
                TransformRequestInput(
                    query_alias=i["alias"],
                    data_paths=i.get("data_paths", []),
                    schema_file=i["schema_file"],
                    vocab=i.get("vocab", DatasetVocabulary()),
                    offset_interval=i.get("offset_interval"),
                    explicit_watermarks=(
                        [Watermark(system_time=system_time, event_time=i["watermark"])]
                        if i.get("watermark")
                        else []
                    ),
                )
                for i in inputs
            ],
            system_time=system_time,
            next_offset=self.next_offset,
            prev_checkpoint_path=self.prev_checkpoint,
            new_checkpoint_path=new_checkpoint,
            new_data_path=out_path,
            vocab=self.vocab,
        )
        response = execute_transform(self.spark, request)
        self.prev_checkpoint = new_checkpoint
        if response.new_offset_interval:
            self.next_offset = response.new_offset_interval.end + 1
        return response, out_path

    def read_output(self, out_path: str) -> list[tuple]:
        table = pq.read_table(out_path)
        return [
            tuple(row[c] for c in table.column_names)
            for row in table.to_pylist()
        ]
