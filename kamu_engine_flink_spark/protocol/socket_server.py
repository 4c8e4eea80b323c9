"""Socket-level engine protocol server — a wire-faithful stand-in for the
reference adapter's gRPC+FlatBuffers service.

The reference serves two methods on 0.0.0.0:2884 (adapter/src/main.rs:21,
adapter/src/grpc.rs:33-104): ExecuteRawQuery and ExecuteTransform. Each
gRPC message is a single opaque byte envelope (a FlatBuffers-encoded ODF
request) and each reply is a one-element stream of an opaque response
envelope. Neither grpcio nor flatbuffers is installable in this
environment, so this module keeps the exact service shape — one listener
port, two methods, opaque-envelope request, one-envelope response stream —
over a plain TCP framing:

    frame    := u32 big-endian payload length ++ payload
    request  := YAML {method: executeTransform|executeRawQuery,
                      request: <engine-IR document, camelCase or snake>}
    response := YAML engine response document ({kind: ...} on error),
                framed the same way; exactly one response frame per
                request, mirroring the reference's single-item stream.

Swapping this framing for tonic/FlatBuffers is a pure codec change — the
dispatch below calls the same EngineAdapter / raw-query paths the gRPC
service would (adapter.rs:103-258 equivalents live in adapter.py).
"""

from __future__ import annotations

import os
import socket
import socketserver
import struct
import sys
import tempfile
import threading

import yaml

from ..adapter import launch_app

DEFAULT_PORT = 2884  # the reference's listen port (main.rs:21)
_MAX_FRAME = 64 * 1024 * 1024


def _read_exact(sock: socket.socket, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed mid-frame")
        buf += chunk
    return buf


def read_frame(sock: socket.socket) -> bytes:
    (length,) = struct.unpack(">I", _read_exact(sock, 4))
    if length > _MAX_FRAME:
        raise ValueError(f"frame of {length} bytes exceeds limit")
    return _read_exact(sock, length)


def write_frame(sock: socket.socket, payload: bytes) -> None:
    sock.sendall(struct.pack(">I", len(payload)) + payload)


def _run_app(module: str, request_doc: dict, workspace: str) -> dict:
    """Engine invocation as a subprocess (adapter.launch_app) over a
    request file written from `request_doc`."""
    os.makedirs(workspace, exist_ok=True)
    fd, req_path = tempfile.mkstemp(suffix=".yaml", dir=workspace)
    os.close(fd)
    with open(req_path, "w") as f:
        yaml.safe_dump(request_doc, f)
    return launch_app(module, req_path, req_path.replace(".yaml", ".resp.yaml"))


class _Handler(socketserver.BaseRequestHandler):
    def handle(self) -> None:  # one request per connection, like unary gRPC
        try:
            envelope = yaml.safe_load(read_frame(self.request).decode("utf-8"))
        except (ConnectionError, ValueError, yaml.YAMLError) as e:
            try:
                write_frame(
                    self.request,
                    yaml.safe_dump({"kind": "invalidRequest", "message": str(e)}).encode(),
                )
            except OSError:
                pass
            return
        method = (envelope or {}).get("method")
        doc = (envelope or {}).get("request") or {}
        # The contract is EXACTLY one response frame per request: any
        # dispatch failure (subprocess timeout, workspace I/O, unserializable
        # request doc) must become an error envelope, never a dropped
        # connection that strands the client mid-read.
        try:
            if method == "executeTransform":
                resp = _run_app(
                    "kamu_engine_flink_spark.transform_app", doc, self.server.workspace
                )
            elif method == "executeRawQuery":
                resp = _run_app(
                    "kamu_engine_flink_spark.raw_query_app", doc, self.server.workspace
                )
            else:
                resp = {"kind": "invalidRequest", "message": f"unknown method {method!r}"}
        except Exception as e:  # noqa: BLE001 — envelope-ize everything
            resp = {"kind": "internalError", "message": f"{type(e).__name__}: {e}"}
        write_frame(self.request, yaml.safe_dump(resp).encode("utf-8"))


class EngineSocketServer(socketserver.ThreadingTCPServer):
    """Threaded listener; `with EngineSocketServer(port=0) as srv:` binds an
    ephemeral port for tests, DEFAULT_PORT (2884) for production parity."""

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, host: str = "0.0.0.0", port: int = DEFAULT_PORT, workspace: str | None = None):
        super().__init__((host, port), _Handler)
        self.workspace = workspace or tempfile.mkdtemp(prefix="odf-socket-")

    @property
    def port(self) -> int:
        return self.server_address[1]

    def serve_background(self) -> threading.Thread:
        t = threading.Thread(target=self.serve_forever, daemon=True)
        t.start()
        return t


def call(host: str, port: int, method: str, request_doc: dict, timeout: float = 600.0) -> dict:
    """Client helper: one framed request, one framed response."""
    with socket.create_connection((host, port), timeout=timeout) as sock:
        write_frame(
            sock,
            yaml.safe_dump({"method": method, "request": request_doc}).encode("utf-8"),
        )
        return yaml.safe_load(read_frame(sock).decode("utf-8"))


def main() -> None:
    port = int(os.environ.get("ODF_ENGINE_PORT", DEFAULT_PORT))
    srv = EngineSocketServer(port=port)
    print(f"engine protocol server listening on {srv.server_address}", file=sys.stderr)
    srv.serve_forever()


if __name__ == "__main__":
    main()
