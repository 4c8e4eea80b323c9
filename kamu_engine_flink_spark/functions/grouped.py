"""Batched grouped-map: a mapInPandas replacement for per-key applyInPandas.

`DataFrame.groupBy(keys).applyInPandas(fn)` invokes `fn` once per key with
a per-group Arrow round-trip. At high key cardinality (the 100 TB shape:
millions of user_id-grade keys, a handful of rows each) that per-group
framework overhead — slicing, FFI, one Arrow batch per group — dominates
end-to-end runtime by orders of magnitude.

`grouped_map_batched` amortizes the framework cost across whole Arrow
batches:

  1. hash-partition by the keys (all rows of a key land in one partition),
  2. sort within partitions by (keys..., sort_cols...) so groups are
     contiguous runs and each group arrives pre-sorted,
  3. mapInPandas: stream the partition's Arrow batches, find the key-run
     starts once per batch, CARRY the tail run to the next batch (a group
     may straddle batch boundaries), and fold every complete run of the
     chunk in ONE `batch_fold(chunk_pdf, starts)` call that emits ONE
     output DataFrame per input batch.

The fold works on index ranges `[starts[g], starts[g+1])` (the last run
ends at `len(chunk_pdf)`), so no per-group pandas frame is ever built. It
returns a list of record dicts; missing keys become NULL.

Null keys are preserved as groups (NaN == NaN and None == None in the run
splitter), matching Spark groupBy semantics.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame


def run_starts(pdf, keys):
    """int64 ndarray of the 0-based rows where the key tuple differs from
    the previous row; position 0 is always a start (empty frame: empty
    array). Nulls compare equal to each other (NaN, NaT, None, pd.NA),
    never to a value."""
    import numpy as np

    n = len(pdf)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    same = np.ones(n - 1, dtype=bool)
    for k in keys:
        s = pdf[k]
        null = s.isna().to_numpy()
        a = s.to_numpy()
        if a.dtype == object:
            # One null spelling, so the elementwise == below sees only
            # None (== None) and never pd.NA (whose == is ambiguous).
            a = a.copy()
            a[null] = None
        same &= (a[1:] == a[:-1]) | (null[1:] & null[:-1])
    return np.concatenate(([0], np.flatnonzero(~same) + 1))


def grouped_map_batched(
    df: DataFrame,
    keys: list[str],
    batch_fold: Callable[..., list[dict]],
    out_schema,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Apply `batch_fold(chunk_pdf, starts) -> list[dict]` to chunks of
    complete key runs. `starts` are the 0-based offsets where each key's
    run begins (always containing 0; run end = next start or len). See
    the module docstring for the contract."""
    if not keys:
        raise ValueError("grouped_map_batched requires at least one key")
    out_names = [f.name for f in out_schema.fields]

    def mapper(batches) -> Iterator:
        import pandas as pd

        carry = None

        def fold(pdf, starts):
            recs = batch_fold(pdf, starts)
            if not recs:
                return None
            # Column-wise construction: pandas' list-of-dicts inference
            # walks every cell; this is ~3x faster on wide outputs.
            return pd.DataFrame(
                {c: [r.get(c) for r in recs] for c in out_names},
                columns=out_names,
            )

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            # The trailing run (rows sharing the last row's key) may
            # continue into the next Arrow batch: carry it.
            starts = run_starts(pdf, keys)
            tail_start = int(starts[-1])
            carry = pdf.iloc[tail_start:].reset_index(drop=True)
            if tail_start:
                out = fold(pdf.iloc[:tail_start], starts[:-1].tolist())
                if out is not None:
                    yield out
        if carry is not None and len(carry):
            out = fold(carry, [0])
            if out is not None:
                yield out

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
