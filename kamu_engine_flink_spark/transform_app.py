"""ExecuteTransform CLI entry point.

Mirrors TransformApp.scala:22-91: load request.yaml, run the transform,
write response.yaml. Errors map to the reference's response kinds
(InvalidQuery for bad SQL at :73-77, InternalError with backtrace at
:78-83) — here encoded as YAML documents with a `kind` field
(protocol/yaml_io.respond).

Usage: python -m kamu_engine_flink_spark.transform_app <request.yaml> <response.yaml>
"""

from __future__ import annotations

import sys

from .engine.transform import execute_transform
from .protocol.yaml_io import load_transform_request, respond
from .session import engine_session


def main(request_path: str, response_path: str) -> int:
    return respond(
        request_path,
        response_path,
        load_transform_request,
        lambda request: execute_transform(
            engine_session(app_name="kamu-engine-spark-transform"), request
        ),
    )


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
