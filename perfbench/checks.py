"""Output checks. A failed check marks its invocation failed and the run
goes on; `FailureLog` turns the marks into the result's counts."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

VALID_OPS = (0, 1, 2, 3)


class FailureLog:
    """Per-invocation outcome. An invocation counts as failed once,
    however many of its checks fail."""

    def __init__(self):
        self.attempted = 0
        self._failed: dict[int, list[str]] = {}

    def new_invocation(self) -> int:
        self.attempted += 1
        return self.attempted - 1

    def fail(self, inv: int, reason: str) -> None:
        self._failed.setdefault(inv, []).append(reason)

    @property
    def failed(self) -> int:
        return len(self._failed)

    def reasons(self) -> list[str]:
        return [r for rs in self._failed.values() for r in rs]


def check_invocation(response: dict, data_path: str, next_offset: int) -> list[str]:
    """Problems with one invocation's response and output file: an error
    response, offsets not contiguous from `next_offset`, a
    `new_offset_interval` that disagrees with the file's row count, or an
    unknown `op` value."""
    if "kind" in response:
        return [f"engine error: {response.get('message', response['kind'])[:200]}"]
    interval = response.get("new_offset_interval")
    if not os.path.exists(data_path):
        return [] if interval is None else [f"interval {interval} but no data file"]
    t = pq.read_table(data_path, columns=["offset", "op"])
    n = t.num_rows
    errors = []
    if interval is None:
        return [f"{n} rows written but no new_offset_interval"]
    if (interval["start"], interval["end"]) != (next_offset, next_offset + n - 1):
        errors.append(
            f"new_offset_interval {interval} != [{next_offset}, {next_offset + n - 1}]"
        )
    offsets = t.column("offset").to_numpy()
    if not np.array_equal(offsets, np.arange(next_offset, next_offset + n)):
        errors.append("offsets are not contiguous from next_offset")
    ops = np.unique(t.column("op").to_numpy())
    if not np.isin(ops, VALID_OPS).all():
        errors.append(f"invalid op values {sorted(set(ops) - set(VALID_OPS))}")
    return errors


def net_mismatches(outputs: list[str], columns: list[str], oracle_sql: str, key_cols: list[str]) -> list[str]:
    """Compare the net result of a chain's changelog outputs (op 0/3 add a
    row, op 1/2 remove it) with an oracle query over the same inputs.
    Both sides are projected onto `key_cols` and compared as multisets.
    Runs in DuckDB, outside any timed region."""
    import duckdb

    if not outputs:
        return ["chain wrote no output"]
    con = duckdb.connect()
    try:
        cols = ", ".join(f'"{c}"' for c in columns)
        con.execute(
            f"""CREATE TEMP TABLE net AS
            SELECT {cols}, sum(CASE WHEN op IN (0, 3) THEN 1 ELSE -1 END) AS n
            FROM read_parquet({outputs!r}) GROUP BY ALL HAVING n <> 0"""
        )
        errors = []
        bad = con.execute("SELECT count(*) FROM net WHERE n <> 1").fetchone()[0]
        if bad:
            errors.append(f"{bad} rows with a net count other than 0 or 1")
        keys = ", ".join(f'"{c}"' for c in key_cols)
        for a, b, label in (
            (f"SELECT {keys} FROM net", f"SELECT {keys} FROM ({oracle_sql})", "extra"),
            (f"SELECT {keys} FROM ({oracle_sql})", f"SELECT {keys} FROM net", "missing"),
        ):
            n = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
            if n:
                errors.append(f"{n} {label} rows against the oracle")
        return errors
    finally:
        con.close()
