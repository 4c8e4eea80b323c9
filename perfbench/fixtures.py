"""Seeded ODF input slices, built with numpy/pyarrow (no Spark).

The base corpus mirrors the shape of the `events` stream table (100k rows,
1,500 users, 5 event types, 30 days of millisecond event times, values
rounded to cents) and is fixed: it comes from a constant generator seed,
so every benchmark seed sees the same value distribution. The benchmark
seed varies the key mapping (which replica key each base user becomes)
and where the event-time slice boundaries fall.

Fixtures are written once per (input, size, seed) under the cache
directory and reused by later runs. Building them never starts a JVM, so
it cannot warm Spark or land in set-up time.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_ROWS = 100_000
BASE_USERS = 1_500
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
_CORPUS_SEED = 42
_T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
_SPAN_MS = 30 * 86_400_000
# Replica r's users live in [r * _REPLICA_STRIDE, (r + 1) * _REPLICA_STRIDE).
_REPLICA_STRIDE = 10_000_000
_SYSTEM_TIME_MS = 1_577_836_800_000  # 2020-01-01T00:00:00Z


@dataclass(frozen=True)
class Slice:
    path: str
    rows: int
    bytes: int
    watermark_ms: int  # max event_time in the slice


def base_corpus() -> dict[str, np.ndarray]:
    """The fixed 100k-row events corpus as numpy columns."""
    rng = np.random.default_rng(_CORPUS_SEED)
    return {
        "event_time": _T0_MS + rng.integers(0, _SPAN_MS, BASE_ROWS, dtype=np.int64),
        "user_id": rng.integers(0, BASE_USERS, BASE_ROWS, dtype=np.int64),
        "event_type": rng.integers(0, len(EVENT_TYPES), BASE_ROWS, dtype=np.int8),
        "value": np.round(rng.exponential(50.0, BASE_ROWS), 2),
    }


def replicate(
    corpus: dict[str, np.ndarray], replicas: int, seed: int, event_type: str | None
) -> dict[str, np.ndarray]:
    """`replicas` copies of the corpus with distinct users per copy, sorted
    into ledger order (event_time, user_id). The seed permutes which key
    each base user maps to in every replica."""
    keep = (
        np.ones(BASE_ROWS, dtype=bool)
        if event_type is None
        else corpus["event_type"] == EVENT_TYPES.index(event_type)
    )
    rng = np.random.default_rng(seed)
    parts: dict[str, list] = {k: [] for k in corpus}
    for r in range(replicas):
        perm = rng.permutation(BASE_USERS).astype(np.int64)
        for k, v in corpus.items():
            v = v[keep]
            if k == "user_id":
                v = perm[v] + r * _REPLICA_STRIDE
            parts[k].append(v)
    cols = {k: np.concatenate(v) for k, v in parts.items()}
    order = np.lexsort((cols["user_id"], cols["event_time"]))
    return {k: v[order] for k, v in cols.items()}


def time_cuts(n_slices: int, seed: int) -> list[int]:
    """Event-time boundaries (ms) of `n_slices` consecutive slices: equal
    shares of the corpus span with each inner cut jittered by up to a
    twentieth of a share, so that a seed moves the cuts without changing
    much how the work splits between invocations. Every input of one seed shares the same cuts, so
    invocation i reads the same event-time range from each input."""
    rng = np.random.default_rng(seed + 1)
    share = _SPAN_MS / n_slices
    inner = [
        _T0_MS + int(share * i + rng.uniform(-0.05, 0.05) * share)
        for i in range(1, n_slices)
    ]
    return [_T0_MS, *inner, _T0_MS + _SPAN_MS]


def _table(cols: dict[str, np.ndarray], lo: int, hi: int) -> pa.Table:
    ts = pa.timestamp("ms", tz="UTC")
    n = hi - lo
    return pa.table(
        {
            "offset": pa.array(np.arange(lo, hi, dtype=np.int64)),
            "op": pa.array(np.zeros(n, dtype=np.int32)),
            "system_time": pa.array(np.full(n, _SYSTEM_TIME_MS, dtype=np.int64), ts),
            "event_time": pa.array(cols["event_time"][lo:hi], ts),
            "user_id": pa.array(cols["user_id"][lo:hi]),
            "event_type": pa.array(
                np.asarray(EVENT_TYPES, dtype=object)[cols["event_type"][lo:hi]],
                pa.string(),
            ),
            "value": pa.array(cols["value"][lo:hi]),
        }
    )


def ledger_slices(
    cache_dir: str,
    name: str,
    replicas: int,
    n_slices: int,
    seed: int,
    event_type: str | None = None,
) -> list[Slice]:
    """ODF ledger slices (offset, op, system_time, event_time, user_id,
    event_type, value) of one input, cached by every argument that shapes
    them."""
    d = os.path.join(cache_dir, f"{name}-x{replicas}-k{n_slices}-seed{seed}")
    manifest = os.path.join(d, "slices.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return [
                Slice(**{**s, "path": os.path.join(d, s["path"])})
                for s in json.load(f)
            ]
    cols = replicate(base_corpus(), replicas, seed, event_type)
    bounds = np.searchsorted(cols["event_time"], time_cuts(n_slices, seed)).tolist()
    tmp = f"{d}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    out = []
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        fname = f"slice-{i}.parquet"
        pq.write_table(_table(cols, lo, hi), os.path.join(tmp, fname))
        out.append(
            Slice(
                path=os.path.join(d, fname),
                rows=hi - lo,
                bytes=os.path.getsize(os.path.join(tmp, fname)),
                watermark_ms=int(cols["event_time"][hi - 1]),
            )
        )
    with open(os.path.join(tmp, "slices.json"), "w") as f:
        json.dump(
            [{**asdict(s), "path": os.path.basename(s.path)} for s in out], f
        )
    os.replace(tmp, d)
    return out
