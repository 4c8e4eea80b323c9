"""Batched grouped-map: a mapInPandas replacement for per-key applyInPandas.

`DataFrame.groupBy(keys).applyInPandas` invokes its function once per key
with a per-group Arrow round-trip. At high key cardinality (the 100 TB shape:
millions of user_id-grade keys, a handful of rows each) that per-group
framework overhead — slicing, FFI, one Arrow batch per group — dominates
end-to-end runtime by orders of magnitude.

`grouped_map_batched` amortizes the framework cost across whole Arrow
batches:

  1. hash-partition by the keys (all rows of a key land in one partition),
  2. sort within partitions by (keys..., sort_cols...) so groups are
     contiguous runs and each group arrives pre-sorted,
  3. mapInPandas: `complete_runs` streams the partition's Arrow batches,
     finds the key-run starts once per batch and CARRIES the tail run to
     the next batch (a group may straddle batch boundaries). A carried
     run is kept as a list of pieces and concatenated once, when it ends,
     so a hot key spanning many batches costs linear, not quadratic, time.
     An optional per-run `run_filter` shrinks every carried piece as it
     arrives (the keyed Top-N keeps only rows that can still enter its
     top N), so such a run's memory stays bounded too. Every chunk of
     complete runs is folded in ONE `batch_fold(chunk_pdf, starts)` call.

The fold works on index ranges `[starts[g], starts[g+1])` (the last run
ends at `len(chunk_pdf)`), so no per-group pandas frame is ever built. It
returns a list of record dicts; missing keys become NULL. The records
become one output frame per fold call through typed Arrow columns built
from `out_schema`, not through pandas type inference.

Null keys are preserved as groups (NaN == NaN and None == None in the run
splitter), matching Spark groupBy semantics.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame


def _same_or_both_null(x, y):
    """Elementwise key equality of two equal-length Series: equal, or
    both null (NaN, NaT, None, pd.NA), never a null and a value."""
    xn, yn = x.isna().to_numpy(), y.isna().to_numpy()
    a, b = x.to_numpy(), y.to_numpy()
    # One null spelling, so the elementwise == below sees only None
    # (== None) and never pd.NA (whose == is ambiguous).
    if a.dtype == object:
        a = a.copy()
        a[xn] = None
    if b.dtype == object:
        b = b.copy()
        b[yn] = None
    return (a == b) | (xn & yn)


def run_starts(pdf, keys):
    """int64 ndarray of the 0-based rows where the key tuple differs from
    the previous row; position 0 is always a start (empty frame: empty
    array). Keys compare by `_same_or_both_null`."""
    import numpy as np

    n = len(pdf)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    same = np.ones(n - 1, dtype=bool)
    for k in keys:
        s = pdf[k]
        same &= _same_or_both_null(s.iloc[1:], s.iloc[:-1])
    return np.concatenate(([0], np.flatnonzero(~same) + 1))


def complete_runs(chunks, keys, run_filter=None) -> Iterator:
    """Yield `(pdf, starts)` for every stretch of complete key runs in a
    stream of key-sorted pandas chunks; `starts` as in `run_starts`.

    The run still open at a chunk's end is carried as a list of pieces
    and concatenated once, when it ends: every row is concatenated at
    most once, so one key spread over many chunks stays linear. With
    `run_filter`, each carried run gets a fresh `run_filter()` and every
    piece passes through it (in chunk order) before it is kept, so the
    filter bounds what a run spanning many chunks holds. A carried run
    is yielded on its own, before the rest of the chunk that closes it.
    Yielded frames keep their source index: folds address rows by
    position."""
    import pandas as pd

    carry: list = []
    carry_key = None  # one-row key frame of the carried run
    keep = None
    for pdf in chunks:
        if len(pdf) == 0:
            continue
        starts = run_starts(pdf, keys)
        if carry and all(
            _same_or_both_null(carry_key[k], pdf[k].iloc[:1])[0] for k in keys
        ):
            end = int(starts[1]) if len(starts) > 1 else len(pdf)
            piece = pdf.iloc[:end]
            carry.append(keep(piece) if keep else piece)
            if end == len(pdf):
                continue
            pdf = pdf.iloc[end:]
            starts = starts[1:] - end
        if carry:
            yield pd.concat(carry, ignore_index=True), [0]
        tail = int(starts[-1])
        carry_key = pdf[keys].iloc[tail:tail + 1]
        keep = run_filter() if run_filter else None
        piece = pdf.iloc[tail:]
        carry = [keep(piece) if keep else piece]
        if tail:
            yield pdf.iloc[:tail], starts[:-1].tolist()
    if carry:
        yield pd.concat(carry, ignore_index=True), [0]


def records_frame(recs: list[dict], schema):
    """pandas frame of fold records (a missing key is NULL), built from
    one typed Arrow column per field of the Arrow `schema` instead of
    pandas type inference. from_pandas=True maps NaN/NaT to NULL, as the
    pandas -> Arrow conversion of an inferred frame does."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array([r.get(f.name) for r in recs], type=f.type, from_pandas=True)
            for f in schema
        ],
        schema=schema,
    ).to_pandas()


def grouped_map_batched(
    df: DataFrame,
    keys: list[str],
    batch_fold: Callable[..., list[dict]],
    out_schema,
    sort_cols: list[str] | None = None,
    run_filter: Callable[[], Callable] | None = None,
) -> DataFrame:
    """Apply `batch_fold(chunk_pdf, starts) -> list[dict]` to chunks of
    complete key runs. `starts` are the 0-based offsets where each key's
    run begins (always containing 0; run end = next start or len).
    `run_filter`, if given, is passed to `complete_runs`: the pieces of a
    run that straddles Arrow batches reach it in (keys, sort_cols) order,
    and it must keep every row the fold needs. See the module docstring
    for the contract."""
    if not keys:
        raise ValueError("grouped_map_batched requires at least one key")
    from pyspark.sql.pandas.types import to_arrow_schema

    # Fold timestamps are session-local naive values (Spark's Arrow ->
    # pandas convention); naive Arrow timestamps keep them so, exactly as
    # the pandas-inferred frame did (session.py pins the session to UTC).
    out_arrow = to_arrow_schema(out_schema, timestamp_utc=False)

    def mapper(batches) -> Iterator:
        for pdf, starts in complete_runs(batches, keys, run_filter):
            recs = batch_fold(pdf, starts)
            if recs:
                yield records_frame(recs, out_arrow)

    # Explicit partition count: a keys-only repartition is AQE-coalescible
    # by bytes, while this stage's cost is per-row Python CPU, so AQE
    # would collapse it onto one or two cores (OPTIMIZATION_r13.md §1).
    # A user-specified count is exempt from coalescing; defaultParallelism
    # scales with the cluster.
    n = df.sparkSession.sparkContext.defaultParallelism
    ordered = df.repartition(n, *keys).sortWithinPartitions(
        *keys, *(sort_cols or [])
    )
    return ordered.mapInPandas(mapper, out_schema)
