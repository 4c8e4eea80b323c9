"""ODF adapter: orchestrates engine invocations the way the reference's
Rust adapter does (adapter/src/adapter.rs), minus the gRPC/FlatBuffers
wire (grpcio is not available in this environment; the gRPC surface is a
thin codec over exactly this logic — grpc.rs:33-104 decodes the request,
calls the same impl, encodes the response).

Responsibilities reproduced from adapter.rs:103-203:
  - workspace prep: a clean in-out dir per invocation (adapter.rs:111);
  - checkpoint transport: the previous checkpoint arrives as a TAR
    archive and is unpacked for the engine; the new checkpoint dir is
    repacked to a TAR after success (adapter.rs:233-258) — the ODF
    contract treats checkpoints as opaque single files;
  - request serialization to request.yaml, the engine-side IR
    (adapter.rs:120-125);
  - engine invocation as a subprocess (`flink run` there, a fresh
    `python -m kamu_engine_flink_spark.transform_app` here) and response
    deserialization (adapter.rs:127-176).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tarfile
import tempfile
from dataclasses import replace
from typing import Any

import yaml

from .protocol.model import TransformRequest
from .protocol.yaml_io import dump_request, load_transform_request, respond


def untar_checkpoint(archive: str, dest_dir: str) -> None:
    os.makedirs(dest_dir, exist_ok=True)
    with tarfile.open(archive, "r") as tar:
        tar.extractall(dest_dir, filter="data")


def tar_checkpoint(src_dir: str, archive: str) -> None:
    with tarfile.open(archive, "w") as tar:
        for name in sorted(os.listdir(src_dir)):
            tar.add(os.path.join(src_dir, name), arcname=name)


def launch_app(module: str, request_path: str, response_path: str) -> dict:
    """Run engine app `module` (transform_app or raw_query_app) in a fresh
    Python process over request/response YAML files, the per-invocation
    contract of the reference's `flink run` (adapter.rs:120-176), and
    return its response document. An engine that dies before it writes
    one answers `internalError` with the tail of its stderr."""
    proc = subprocess.run(
        [sys.executable, "-m", module, request_path, response_path],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=600,
    )
    if not os.path.exists(response_path):
        return {
            "kind": "internalError",
            "message": f"engine produced no response (rc={proc.returncode})",
            "backtrace": (proc.stderr or "")[-4000:],
        }
    with open(response_path) as f:
        return yaml.safe_load(f)


class EngineAdapter:
    """Drives transform invocations with tar-archived checkpoint
    transport. Each call is hermetic: fresh workspace, subprocess engine
    (new JVM, like the reference's per-invocation `flink run`), archived
    checkpoint out."""

    def __init__(self, workspace: str | None = None, in_process: bool = False):
        self.workspace = workspace or tempfile.mkdtemp(prefix="odf-adapter-")
        self.in_process = in_process
        os.makedirs(self.workspace, exist_ok=True)

    def execute_transform(
        self, request: TransformRequest, prev_checkpoint_tar: str | None = None
    ) -> tuple[dict[str, Any], str]:
        """Run one invocation; returns (response dict, new checkpoint tar
        path). `request.prev/new_checkpoint_path` are managed here — the
        caller deals only in tar archives, per the ODF contract."""
        inout = os.path.join(self.workspace, "in-out")
        shutil.rmtree(inout, ignore_errors=True)
        os.makedirs(inout)

        new_cp_dir = os.path.join(inout, "checkpoint-new")
        prev_cp_dir = None
        if prev_checkpoint_tar:
            prev_cp_dir = os.path.join(inout, "checkpoint-prev")
            untar_checkpoint(prev_checkpoint_tar, prev_cp_dir)
        request = replace(
            request, new_checkpoint_path=new_cp_dir, prev_checkpoint_path=prev_cp_dir
        )

        req_path = os.path.join(inout, "request.yaml")
        resp_path = os.path.join(inout, "response.yaml")
        dump_request(request, req_path)

        if self.in_process:
            from pyspark.sql import SparkSession

            from .engine.transform import execute_transform
            from .session import engine_session

            # A running session keeps its caller's settings: building one
            # through engine_session() would re-apply the engine defaults.
            respond(
                req_path,
                resp_path,
                load_transform_request,
                lambda r: execute_transform(
                    SparkSession.getActiveSession() or engine_session(), r
                ),
            )
            with open(resp_path) as f:
                response = yaml.safe_load(f)
        else:
            response = launch_app(
                "kamu_engine_flink_spark.transform_app", req_path, resp_path
            )

        new_tar = os.path.join(self.workspace, "checkpoint.tar")
        if os.path.isdir(new_cp_dir):
            tar_checkpoint(new_cp_dir, new_tar)
        return response, new_tar
