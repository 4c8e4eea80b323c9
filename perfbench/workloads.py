"""The benchmark's workloads: which transform runs, over which inputs,
how the inputs are cut into a chain of invocations, and the oracle its
net result is compared with. perfbench/README.md says why each exists."""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone

from fixtures import Slice, ledger_slices


@dataclass(frozen=True)
class Workload:
    name: str
    # (query alias, event_type filter or None for the whole stream)
    inputs: tuple[tuple[str, str | None], ...]
    # (alias or None for the output step, SQL)
    steps: tuple[tuple[str | None, str], ...]
    replicas: int
    slices: int
    temporal_tables: tuple[tuple[str, str], ...] = ()
    # Net-result check: output columns forming a row's identity, the
    # columns compared, and the oracle over the inputs ({alias} is
    # replaced by a DuckDB scan of that input's slices).
    net_columns: tuple[str, ...] = ()
    compare_columns: tuple[str, ...] = ()
    oracle_sql: str | None = None


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="topn_resume",
            inputs=(("events", None),),
            steps=(
                (
                    None,
                    """SELECT * FROM (
  SELECT
    row_number() OVER (PARTITION BY user_id ORDER BY value DESC) AS place,
    event_time, user_id, event_type, value
  FROM events
) WHERE place <= 3""",
                ),
            ),
            replicas=1,
            slices=2,
            net_columns=("place", "event_time", "user_id", "event_type", "value"),
            compare_columns=("user_id", "place", "value"),
            oracle_sql="""SELECT user_id, place, value FROM (
  SELECT user_id, value,
    row_number() OVER (PARTITION BY user_id ORDER BY value DESC) AS place
  FROM {events}
) WHERE place <= 3""",
        ),
        Workload(
            name="asof_resume",
            inputs=(("purchases", "purchase"), ("clicks", "click")),
            steps=(
                (
                    "rates",
                    """SELECT max(event_time) as event_time,
  user_id, sum(value) as rate FROM purchases GROUP BY user_id""",
                ),
                (
                    None,
                    """SELECT c.event_time as event_time, c.user_id as user_id,
  c.value as qty, rt.rate as rate
FROM clicks AS c JOIN rates FOR SYSTEM_TIME AS OF c.event_time AS rt
ON c.user_id = rt.user_id""",
                ),
            ),
            temporal_tables=(("rates", "user_id"),),
            replicas=1,
            slices=2,
        ),
        Workload(
            name="map_bulk",
            inputs=(("events", None),),
            steps=(
                (
                    None,
                    """SELECT event_time, user_id, event_type, value,
  value * 100 AS cents
FROM events WHERE event_type <> 'error'""",
                ),
            ),
            replicas=20,
            slices=2,
            net_columns=("event_time", "user_id", "event_type", "value", "cents"),
            compare_columns=("event_time", "user_id", "event_type", "value", "cents"),
            oracle_sql="""SELECT event_time, user_id, event_type, value,
  value * 100 AS cents
FROM {events} WHERE event_type <> 'error'""",
        ),
    )
}


def input_slices(w: Workload, cache_dir: str, seed: int, replicas: int) -> dict[str, list[Slice]]:
    return {
        alias: ledger_slices(cache_dir, alias, replicas, w.slices, seed, event_type)
        for alias, event_type in w.inputs
    }


def _utc_ms(ms: int) -> datetime:
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc)


def build_request(w: Workload, slices: dict[str, list[Slice]], i: int, next_offset: int, data_path: str):
    """Invocation i of a chain: slice i of every input, an explicit
    watermark at the slice's last event time, the ledger's next offset.
    The adapter fills in the checkpoint paths."""
    from kamu_engine_flink_spark.protocol.model import (
        SqlQueryStep,
        TemporalTable,
        Transform,
        TransformRequest,
        TransformRequestInput,
        Watermark,
    )

    system_time = _utc_ms(max(s[i].watermark_ms for s in slices.values()))
    return TransformRequest(
        transform=Transform(
            queries=[SqlQueryStep(query=q, alias=a) for a, q in w.steps],
            temporal_tables=[TemporalTable(name=n, primary_key=[k]) for n, k in w.temporal_tables],
        ),
        query_inputs=[
            TransformRequestInput(
                query_alias=alias,
                data_paths=[s[i].path],
                schema_file=s[i].path,
                explicit_watermarks=[
                    Watermark(system_time=system_time, event_time=_utc_ms(s[i].watermark_ms))
                ],
            )
            for alias, s in slices.items()
        ],
        system_time=system_time,
        next_offset=next_offset,
        prev_checkpoint_path=None,
        new_checkpoint_path="",
        new_data_path=data_path,
    )


def oracle_query(w: Workload, slices: dict[str, list[Slice]]) -> str:
    scans = {
        alias: f"read_parquet({[s.path for s in ss]!r})" for alias, ss in slices.items()
    }
    return w.oracle_sql.format(**scans)
