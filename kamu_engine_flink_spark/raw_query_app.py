"""ExecuteRawQuery CLI entry point (mirrors RawQueryApp.scala:19-45).

Usage: python -m kamu_engine_flink_spark.raw_query_app <request.yaml> <response.yaml>
"""

from __future__ import annotations

import sys

from .engine.raw_query import execute_raw_query
from .protocol.yaml_io import load_raw_query_request, respond
from .session import engine_session


def main(request_path: str, response_path: str) -> int:
    return respond(
        request_path,
        response_path,
        load_raw_query_request,
        lambda request: execute_raw_query(
            engine_session(app_name="kamu-engine-spark-rawquery"), request
        ),
    )


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
