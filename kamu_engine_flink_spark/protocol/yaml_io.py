"""YAML request/response serialization.

The reference's engine-side IR of the ODF protocol is request.yaml /
response.yaml files (TransformApp.scala:19-32, adapter/src/adapter.rs:120-125).
We accept both camelCase (the ODF manifest spelling) and snake_case keys.
"""

from __future__ import annotations

import re
import traceback
from collections.abc import Callable
from dataclasses import asdict
from datetime import datetime, timezone
from typing import Any

import yaml

from .model import (
    DatasetVocabulary,
    InvalidQueryError,
    OffsetInterval,
    RawQueryRequest,
    RawQueryResponse,
    SqlQueryStep,
    TemporalTable,
    Transform,
    TransformRequest,
    TransformRequestInput,
    TransformResponse,
    Watermark,
)

_CAMEL = re.compile(r"(?<!^)(?=[A-Z])")


def _snake(key: str) -> str:
    return _CAMEL.sub("_", key).lower()


def _snake_keys(obj: Any) -> Any:
    if isinstance(obj, dict):
        return {_snake(k): _snake_keys(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_snake_keys(v) for v in obj]
    return obj


def _dt(value: Any) -> datetime:
    if isinstance(value, datetime):
        return value if value.tzinfo else value.replace(tzinfo=timezone.utc)
    return datetime.fromisoformat(str(value).replace("Z", "+00:00"))


def _vocab(d: dict | None) -> DatasetVocabulary:
    d = d or {}
    return DatasetVocabulary(
        offset_column=d.get("offset_column", "offset"),
        operation_type_column=d.get("operation_type_column", "op"),
        system_time_column=d.get("system_time_column", "system_time"),
        event_time_column=d.get("event_time_column", "event_time"),
    )


def _transform(d: dict) -> Transform:
    steps = [
        SqlQueryStep(query=q["query"], alias=q.get("alias"))
        for q in (d.get("queries") or ([{"query": d["query"]}] if d.get("query") else []))
    ]
    temporal = [
        TemporalTable(name=t["name"], primary_key=list(t.get("primary_key") or []))
        for t in (d.get("temporal_tables") or [])
    ]
    return Transform(queries=steps, temporal_tables=temporal, engine=d.get("engine", "spark"))


def parse_transform_request(doc: dict) -> TransformRequest:
    d = _snake_keys(doc)
    inputs = []
    for i in d.get("query_inputs") or []:
        oi = i.get("offset_interval")
        inputs.append(
            TransformRequestInput(
                query_alias=i["query_alias"],
                data_paths=[str(p) for p in (i.get("data_paths") or [])],
                schema_file=str(i["schema_file"]),
                vocab=_vocab(i.get("vocab")),
                offset_interval=OffsetInterval(int(oi["start"]), int(oi["end"])) if oi else None,
                explicit_watermarks=[
                    Watermark(system_time=_dt(w["system_time"]), event_time=_dt(w["event_time"]))
                    for w in (i.get("explicit_watermarks") or [])
                ],
                dataset_id=i.get("dataset_id"),
                dataset_alias=i.get("dataset_alias"),
            )
        )
    return TransformRequest(
        transform=_transform(d["transform"]),
        query_inputs=inputs,
        system_time=_dt(d["system_time"]),
        next_offset=int(d.get("next_offset", 0)),
        prev_checkpoint_path=d.get("prev_checkpoint_path"),
        new_checkpoint_path=str(d["new_checkpoint_path"]),
        new_data_path=str(d["new_data_path"]),
        vocab=_vocab(d.get("vocab")),
        dataset_id=str(d.get("dataset_id", "output")),
    )


def parse_raw_query_request(doc: dict) -> RawQueryRequest:
    d = _snake_keys(doc)
    return RawQueryRequest(
        input_data_paths=[str(p) for p in (d.get("input_data_paths") or [])],
        transform=_transform(d["transform"]),
        output_data_path=str(d["output_data_path"]),
    )


def load_transform_request(path: str) -> TransformRequest:
    with open(path) as f:
        return parse_transform_request(yaml.safe_load(f))


def load_raw_query_request(path: str) -> RawQueryRequest:
    with open(path) as f:
        return parse_raw_query_request(yaml.safe_load(f))


def _clean(obj: Any) -> Any:
    if isinstance(obj, dict):
        return {k: _clean(v) for k, v in obj.items() if v is not None}
    if isinstance(obj, list):
        return [_clean(v) for v in obj]
    if isinstance(obj, datetime):
        return obj.astimezone(timezone.utc).isoformat().replace("+00:00", "Z")
    return obj


def dump_response(resp: TransformResponse | RawQueryResponse, path: str) -> None:
    with open(path, "w") as f:
        yaml.safe_dump(_clean(asdict(resp)), f, sort_keys=False)


def dump_request(req: TransformRequest | RawQueryRequest, path: str) -> None:
    """Serialize a request to its engine-side YAML IR (snake_case keys —
    the loader accepts both spellings). Used by the adapter layer
    (adapter.rs:120-125 writes request.yaml the same way)."""
    with open(path, "w") as f:
        yaml.safe_dump(_clean(asdict(req)), f, sort_keys=False)


def respond(
    request_path: str,
    response_path: str,
    load: Callable[[str], Any],
    execute: Callable[[Any], TransformResponse | RawQueryResponse],
) -> int:
    """Load the request at `request_path`, run `execute` on it and write
    its response, or a typed error document, to `response_path`. Errors
    map to the reference's response kinds (TransformApp.scala:73-83): a
    request that does not load is `invalidRequest`, bad SQL is
    `invalidQuery` (exit 1), anything else `internalError` with its
    backtrace (exit 2)."""
    try:
        request = load(request_path)
    except Exception as e:  # noqa: BLE001 — every request gets a response
        doc, code = {"kind": "invalidRequest", "message": str(e)}, 1
    else:
        try:
            dump_response(execute(request), response_path)
            return 0
        except InvalidQueryError as e:
            doc, code = {"kind": "invalidQuery", "message": str(e)}, 1
        except Exception as e:  # noqa: BLE001
            doc = {
                "kind": "internalError",
                "message": str(e),
                "backtrace": traceback.format_exc(),
            }
            code = 2
    with open(response_path, "w") as f:
        yaml.safe_dump(doc, f)
    return code
