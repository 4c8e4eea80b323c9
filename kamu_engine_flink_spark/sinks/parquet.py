"""Single-file parquet sink.

The ODF engine contract requires exactly one parquet data file per
invocation at a caller-chosen path. The reference buffers every result row
on the heap and flushes once via an Avro->Parquet writer on savepoint
(ParuqetSink.scala:29-80) — which caps output size at executor memory.

Spark-first version: write a normal (distributed, spill-safe) parquet
directory next to the target, then move the single part file into place.
We only coalesce(1) when the caller asks for deterministic in-file row
order (the ODF offset contract); otherwise the upstream stays parallel
and we merely rename whatever single part AQE-coalesced output produced.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def write_single_parquet(df: DataFrame, path: str, *, sorted_single: bool = True) -> int:
    """Write `df` as ONE parquet file at `path`; returns row count.

    sorted_single=True coalesces to one task so the in-file row order is
    the DataFrame order (required where `offset` must equal row position).
    The reference holds the same constraint via global parallelism=1
    (TransformApp.scala:39); we pay it only at the final write.
    """
    tmp_dir = path + ".tmp.spark-write"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    out = df.coalesce(1) if sorted_single else df
    out.write.mode("overwrite").option("compression", "snappy").parquet(tmp_dir)
    parts = sorted(glob.glob(os.path.join(tmp_dir, "part-*.parquet")))
    if len(parts) != 1:
        # Merge would break ordering guarantees; fail loudly instead.
        shutil.rmtree(tmp_dir, ignore_errors=True)
        raise RuntimeError(f"expected exactly 1 part file, got {len(parts)}")
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    if os.path.exists(path):
        os.remove(path)
    shutil.move(parts[0], path)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows
