"""CLI integration tier: drive the two entry-point apps as real
subprocesses with YAML requests, like the reference's EngineRunner
integration tests drive `flink run` (EngineRunner.scala:32-218,
EngineMapTest / EngineRawQueryTest scenarios). Covers protocol parsing
(camelCase keys), resume chaining, and the error-response contract.
"""

import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest
import yaml

from .helpers import ticker_slice, ts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(module: str, req: dict, tmp_path, tag: str) -> tuple[int, dict]:
    req_path = str(tmp_path / f"req-{tag}.yaml")
    resp_path = str(tmp_path / f"resp-{tag}.yaml")
    with open(req_path, "w") as f:
        yaml.safe_dump(req, f)
    proc = subprocess.run(
        [sys.executable, "-m", module, req_path, resp_path],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    with open(resp_path) as f:
        return proc.returncode, yaml.safe_load(f)


@pytest.mark.slow
def test_transform_cli_two_invocations_and_error(tmp_path):
    slice1 = str(tmp_path / "slice1.parquet")
    slice2 = str(tmp_path / "slice2.parquet")
    ticker_slice(slice1, [(0, 0, ts(1), ts(1, 1), "A", 10), (1, 0, ts(1), ts(1, 2), "B", 20)])
    ticker_slice(slice2, [(2, 0, ts(2), ts(2, 1), "A", 11)])

    def req(n, paths, prev, next_offset):
        return {
            "transform": {
                "queries": [
                    {"query": "SELECT event_time, symbol, price * 10 as price FROM `in`"}
                ]
            },
            "queryInputs": [
                {
                    "queryAlias": "in",
                    "dataPaths": paths,
                    "schemaFile": slice1,
                    "explicitWatermarks": [
                        {"systemTime": "2000-01-05T00:00:00Z", "eventTime": f"2000-01-0{n+1}T00:00:00Z"}
                    ],
                }
            ],
            "systemTime": f"2000-01-0{n+4}T00:00:00Z",
            "nextOffset": next_offset,
            "prevCheckpointPath": prev,
            "newCheckpointPath": str(tmp_path / f"cp{n}"),
            "newDataPath": str(tmp_path / f"out{n}.parquet"),
        }

    code, resp = _run("kamu_engine_flink_spark.transform_app", req(1, [slice1], None, 0), tmp_path, "t1")
    assert code == 0
    assert resp["new_offset_interval"] == {"start": 0, "end": 1}
    assert resp["new_watermark"] == "2000-01-02T00:00:00Z"

    code, resp = _run(
        "kamu_engine_flink_spark.transform_app",
        req(2, [slice2], str(tmp_path / "cp1"), 2),
        tmp_path,
        "t2",
    )
    assert code == 0
    assert resp["new_offset_interval"] == {"start": 2, "end": 2}

    out = pq.read_table(str(tmp_path / "out2.parquet"))
    assert out.column_names[:3] == ["offset", "op", "system_time"]
    assert out.column("offset").to_pylist() == [2]
    assert out.column("price").to_pylist() == [110]
    assert str(out.schema.field("event_time").type) == "timestamp[ms, tz=UTC]"

    # Error contract: output without event_time -> invalidQuery, exit 1.
    bad = req(3, [slice1], None, 0)
    bad["transform"]["queries"] = [{"query": "SELECT symbol FROM `in`"}]
    code, resp = _run("kamu_engine_flink_spark.transform_app", bad, tmp_path, "t3")
    assert code == 1
    assert resp["kind"] == "invalidQuery"


@pytest.mark.slow
def test_raw_query_cli(tmp_path):
    slice1 = str(tmp_path / "raw.parquet")
    ticker_slice(slice1, [(0, 0, ts(1), ts(1, 1), "A", 10), (1, 0, ts(1), ts(1, 2), "B", 20)])
    req = {
        "inputDataPaths": [slice1],
        "transform": {
            "queries": [{"query": "SELECT symbol, price * 2 AS price2 FROM input WHERE price > 15"}]
        },
        "outputDataPath": str(tmp_path / "raw-out.parquet"),
    }
    code, resp = _run("kamu_engine_flink_spark.raw_query_app", req, tmp_path, "r1")
    assert code == 0
    assert resp["num_records"] == 1
    out = pq.read_table(str(tmp_path / "raw-out.parquet"))
    assert out.column("price2").to_pylist() == [40]


def test_transform_app_answers_a_request_that_does_not_parse(tmp_path):
    """A request YAML that does not parse still gets a typed response
    document. The load fails before any Spark session is built."""
    from kamu_engine_flink_spark import transform_app

    req_path = tmp_path / "req.yaml"
    req_path.write_text("transform: [unclosed\n")
    resp_path = tmp_path / "resp.yaml"
    assert transform_app.main(str(req_path), str(resp_path)) == 1
    resp = yaml.safe_load(resp_path.read_text())
    assert resp["kind"] == "invalidRequest"
