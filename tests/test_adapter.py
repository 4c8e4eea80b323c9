"""Adapter tier: tar-archived checkpoint transport across invocations
(reference adapter/src/adapter.rs:103-203, :233-258). The engine runs as
a real subprocess; the adapter's caller deals only in request objects and
opaque checkpoint archives.
"""

import shutil
from dataclasses import replace

import pyarrow.parquet as pq
import pytest

from kamu_engine_flink_spark.adapter import EngineAdapter, launch_app
from kamu_engine_flink_spark.protocol.model import (
    DatasetVocabulary,
    SqlQueryStep,
    Transform,
    TransformRequest,
    TransformRequestInput,
    Watermark,
)

from .helpers import ticker_slice, ts


def _request(tmp_path, n, paths, schema_file, next_offset):
    return TransformRequest(
        transform=Transform(
            queries=[SqlQueryStep(query="SELECT event_time, symbol, price * 10 as price FROM `in`")]
        ),
        query_inputs=[
            TransformRequestInput(
                query_alias="in",
                data_paths=paths,
                schema_file=schema_file,
                vocab=DatasetVocabulary(),
                explicit_watermarks=[Watermark(system_time=ts(5), event_time=ts(n))],
            )
        ],
        system_time=ts(n + 4),
        next_offset=next_offset,
        prev_checkpoint_path=None,
        new_checkpoint_path="",  # managed by the adapter
        new_data_path=str(tmp_path / f"out{n}.parquet"),
        vocab=DatasetVocabulary(),
    )


@pytest.mark.slow
def test_adapter_checkpoint_tar_roundtrip(tmp_path):
    slice1 = str(tmp_path / "slice1.parquet")
    slice2 = str(tmp_path / "slice2.parquet")
    ticker_slice(slice1, [(0, 0, ts(1), ts(1, 1), "A", 10), (1, 0, ts(1), ts(1, 2), "B", 20)])
    ticker_slice(slice2, [(2, 0, ts(2), ts(2, 1), "A", 11)])

    adapter = EngineAdapter(workspace=str(tmp_path / "ws"))
    try:
        resp1, cp_tar1 = adapter.execute_transform(_request(tmp_path, 1, [slice1], slice1, 0))
        assert resp1["new_offset_interval"] == {"start": 0, "end": 1}
        assert resp1["new_watermark"] == "2000-01-01T00:00:00Z"

        # The tar is the only state handed to invocation 2 (copied to a
        # fresh path to prove nothing leaks via the workspace dirs).
        saved_tar = str(tmp_path / "cp1-saved.tar")
        shutil.copy(cp_tar1, saved_tar)

        resp2, _ = adapter.execute_transform(
            _request(tmp_path, 2, [slice2], slice1, 2), prev_checkpoint_tar=saved_tar
        )
        assert resp2["new_offset_interval"] == {"start": 2, "end": 2}
        # Watermark persisted through the tar: max(prev day1, new day2).
        assert resp2["new_watermark"] == "2000-01-02T00:00:00Z"

        out = pq.read_table(str(tmp_path / "out2.parquet"))
        assert out.column("offset").to_pylist() == [2]
        assert out.column("price").to_pylist() == [110]
    finally:
        shutil.rmtree(adapter.workspace, ignore_errors=True)


def test_in_process_adapter_answers_invalid_query(spark, tmp_path):
    """The in-process path maps errors like transform_app: a query whose
    output has no event_time is `invalidQuery`, not an internal error."""
    slice1 = str(tmp_path / "slice1.parquet")
    ticker_slice(slice1, [(0, 0, ts(1), ts(1, 1), "A", 10)])
    request = replace(
        _request(tmp_path, 1, [slice1], slice1, 0),
        transform=Transform(queries=[SqlQueryStep(query="SELECT symbol FROM `in`")]),
    )
    adapter = EngineAdapter(workspace=str(tmp_path / "ws"), in_process=True)
    resp, _ = adapter.execute_transform(request)
    assert resp["kind"] == "invalidQuery"
    assert "event_time" in resp["message"]


def test_in_process_adapter_keeps_the_callers_session_settings(spark, tmp_path):
    """An in-process invocation runs on the caller's active session as
    the caller configured it: the engine defaults are not re-applied."""
    key = "spark.sql.shuffle.partitions"
    own = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        slice1 = str(tmp_path / "slice1.parquet")
        ticker_slice(slice1, [(0, 0, ts(1), ts(1, 1), "A", 10)])
        adapter = EngineAdapter(workspace=str(tmp_path / "ws"), in_process=True)
        resp, _ = adapter.execute_transform(_request(tmp_path, 1, [slice1], slice1, 0))
        assert resp["new_offset_interval"] == {"start": 0, "end": 0}
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, own)


def test_launch_without_response_is_internal_error(tmp_path):
    """An engine process that dies before it writes its response (here:
    its response directory does not exist) answers `internalError` with
    its stderr, for the adapter and the socket server alike."""
    resp = launch_app(
        "kamu_engine_flink_spark.transform_app",
        str(tmp_path / "missing.yaml"),
        str(tmp_path / "no-such-dir" / "response.yaml"),
    )
    assert resp["kind"] == "internalError"
    assert resp["message"].startswith("engine produced no response (rc=")
    assert "FileNotFoundError" in resp["backtrace"]
