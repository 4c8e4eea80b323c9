"""Engine-owned checkpoint state.

Plays the role of the reference's Flink savepoints + `.stats` sidecar files
(TransformEngine.scala:338-380, StatsOperator.scala:30-48; watermarks live
outside the savepoint because of FLINK-5601). Our state is plain files in
the checkpoint directory — tar-compatible with the adapter transport
contract (adapter/src/adapter.rs:233-258):

    watermarks.json     per-input + per-step watermark state
    <name>.parquet/     operator state relations (window buffers, join
                        buffers, temporal versions, Top-N tables)

State relations are ordinary parquet directories written by Spark, so an
operator buffer can be arbitrarily large (bounded by watermark horizons,
not executor memory) and reads/writes stay distributed.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Append-only relations add up to num_buckets files per invocation (one
# generation). Past this many data files the append compacts: one full
# bucketed rewrite folds all generations back to one file per bucket, so
# long-lived streams see amortized O(slice) appends with periodic O(state)
# compactions instead of unbounded file-count growth (RocksDB/LSM shape).
_COMPACT_AFTER_FILES = 512

# append_or_fold: a relation whose operator can fold its history (net a
# signed ledger, prune versions below a watermark) is rewritten as that
# fold once its bytes exceed this multiple of the size measured after the
# last fold, and at least the minimum below.
_FOLD_GROWTH = 4
_FOLD_MIN_BYTES = 8 << 20


def _has_data_files(path: str) -> bool:
    """A relation written from an all-empty DataFrame produces only marker
    files (_SUCCESS) — no parquet footers to infer a schema from."""
    return any(
        not e.startswith(("_", ".")) for e in os.listdir(path)
    ) if os.path.isdir(path) else True


def _dt_to_iso(value: datetime | None) -> str | None:
    if value is None:
        return None
    return value.astimezone(timezone.utc).isoformat()


def _iso_to_dt(value: str | None) -> datetime | None:
    if value is None:
        return None
    return datetime.fromisoformat(value)


class StateStore:
    """Read state from the previous checkpoint dir, write to the new one.

    The reference mutates an untarred copy of the previous checkpoint; we
    keep the dirs immutable: a run writes the relations it changes into
    `new_dir` — a rewrite, or for append relations the previous files
    hard-linked forward plus the delta — and `finish` links every
    relation it did not touch forward.

    Every relation write is queued by `save_df` and runs in
    `flush_deferred`; this class alone decides how a relation is written
    (bucket count, append vs rewrite, compaction).
    """

    def __init__(self, spark: SparkSession, prev_dir: str | None, new_dir: str):
        self.spark = spark
        self.prev_dir = prev_dir
        self.new_dir = new_dir
        os.makedirs(new_dir, exist_ok=True)
        self._written: set[str] = set()
        # Writes queued by save_df, run by flush_deferred. Deferring is
        # safe because loads only ever read PREV_DIR: nothing reads a
        # relation written this invocation.
        self._deferred: list = []

    # -- JSON scalars ------------------------------------------------------

    def load_json(self, name: str, default=None):
        if self.prev_dir:
            path = os.path.join(self.prev_dir, name)
            if os.path.exists(path):
                with open(path) as f:
                    return json.load(f)
        return default

    def save_json(self, name: str, obj) -> None:
        with open(os.path.join(self.new_dir, name), "w") as f:
            json.dump(obj, f, indent=2, default=str)
        self._written.add(name)

    # -- watermarks --------------------------------------------------------

    def load_watermarks(self) -> dict[str, datetime | None]:
        raw = self.load_json("watermarks.json", {}) or {}
        return {k: _iso_to_dt(v) for k, v in raw.items()}

    def save_watermarks(self, wms: dict[str, datetime | None]) -> None:
        self.save_json("watermarks.json", {k: _dt_to_iso(v) for k, v in wms.items()})

    # -- DataFrame relations -------------------------------------------------

    def _rel_path(self, base: str | None, name: str) -> str | None:
        if base is None:
            return None
        return os.path.join(base, f"{name}.parquet")

    def _meta_name(self, name: str) -> str:
        return f"{name}.buckets.json"

    def relation_bytes(self, name: str) -> int | None:
        """On-disk size of the previous checkpoint's relation, or None when
        it doesn't exist. Free metadata (no Spark job) — operators use it
        to decide whether a touched-keys state split is worth its probe
        cost (state >> slice) or the slice plausibly touches most keys
        anyway (state ~ slice)."""
        path = self._rel_path(self.prev_dir, name)
        if not path or not os.path.isdir(path):
            return None
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if not f.startswith(("_", "."))
        )

    def has_df(self, name: str) -> bool:
        """True when the previous checkpoint persisted this relation —
        lets operators skip the buffer-union (and its materializing pin)
        entirely on a first run."""
        path = self._rel_path(self.prev_dir, name)
        return bool(path and os.path.exists(path))

    def load_df(self, name: str, schema: StructType | None = None) -> DataFrame | None:
        """Previous-run state relation, or an empty frame if `schema` given.

        A relation saved with `bucket_by` comes back as a BUCKETED scan:
        its output partitioning is hash(bucket_by, num_buckets), so a join
        or aggregation keyed on those columns plans NO exchange (and no
        re-shuffle of the accumulated history) on the state side — the
        Spark analogue of Flink probing resident keyed state."""
        path = self._rel_path(self.prev_dir, name)
        if path and os.path.exists(path) and _has_data_files(path):
            meta = self.load_json(self._meta_name(name))
            if meta:
                return self._read_bucketed(path, meta)
            return self.spark.read.parquet(path)
        if schema is not None:
            return self.spark.createDataFrame([], schema)
        return None

    def _read_bucketed(self, path: str, meta: dict) -> DataFrame:
        # Bucketing metadata lives in the catalog, not parquet footers, so
        # register a throwaway external table over the state files. The
        # DataFrame resolves (and snapshots the file listing) eagerly at
        # spark.table(), so the catalog entry can be dropped immediately —
        # no cross-invocation catalog residue.
        # The sidecar records the relation schema at write time (the writer
        # holds it for free); a footer-inference pass per state load would
        # cost a driver round trip per relation per invocation. Checkpoints
        # from before the sidecar carried it fall back to inference.
        if meta.get("schema"):
            schema = StructType.fromJson(meta["schema"])
        else:
            schema = self.spark.read.parquet(path).schema
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        cols = ", ".join(f"`{c}`" for c in meta["bucket_by"])
        tbl = f"__kamu_state_{uuid.uuid4().hex}"
        self.spark.sql(
            f"CREATE TABLE `{tbl}` ({ddl}) USING PARQUET "
            f"CLUSTERED BY ({cols}) INTO {int(meta['num_buckets'])} BUCKETS "
            f"LOCATION '{path}'"
        )
        df = self.spark.table(tbl)
        self.spark.sql(f"DROP TABLE `{tbl}`")
        return df

    def save_df(
        self,
        name: str,
        df: DataFrame,
        bucket_by: list[str] | None = None,
        append: bool = False,
        pre_partitioned: bool = False,
    ) -> None:
        """Queue a state relation for `flush_deferred` to write into the
        new checkpoint dir.

        bucket_by: hash-bucket the files by these columns (see load_df) so
            next invocation's state-side joins are exchange-free.
        append: `df` is a DELTA — the previous checkpoint's files are
            hard-linked forward (O(files), no Spark job, no re-read of the
            accumulated history) and only the delta's files are written.
            Only valid for relations whose rows are immutable once written
            (full-history join buffers). Falls back to a plain rewrite when
            the previous relation's layout doesn't match.
        pre_partitioned: skip the pre-write repartition — the caller's
            plan already delivers (mostly) bucket-aligned partitions (e.g.
            the surviving side of a join/aggregate keyed on bucket_by), so
            forcing another full exchange of the state would undo the
            bucketing's point. Always CORRECT regardless (the writer
            assigns each ROW its bucket file); misaligned partitions only
            cost extra small files.
        """
        self._deferred.append((name, df, bucket_by, append, pre_partitioned))

    def append_or_fold(
        self,
        name: str,
        delta: DataFrame,
        bucket_by: list[str] | None,
        fold: Callable[[], DataFrame | None],
        force: bool = False,
    ) -> None:
        """Save a relation that grows by `delta` per invocation but whose
        history the operator can fold without changing its meaning
        (netting a signed ledger, pruning versions below a watermark).

        The common case appends the delta: O(slice). Once the relation's
        bytes exceed _FOLD_GROWTH x the size measured after its last fold
        (and _FOLD_MIN_BYTES), it is rewritten as `fold()` instead —
        amortized O(slice) appends with periodic O(state) folds. `fold`
        returns None to keep appending (nothing can be folded yet);
        `force` asks for the fold regardless of size. The floor lives in
        a `<name>.compact.json` sidecar and is measured lazily: a fold
        records None and the next invocation records the folded size."""
        meta_name = f"{name}.compact.json"
        floor = (self.load_json(meta_name) or {}).get("floor")
        cur_bytes = self.relation_bytes(name) or 0
        grown = floor is not None and cur_bytes > max(
            _FOLD_GROWTH * floor, _FOLD_MIN_BYTES
        )
        folded = fold() if force or grown else None
        if folded is not None:
            self.save_df(name, folded, bucket_by=bucket_by)
            self.save_json(meta_name, {"floor": None})
            return
        self.save_df(name, delta, bucket_by=bucket_by, append=True)
        if floor is None:
            self.save_json(meta_name, {"floor": cur_bytes})

    def _write_df(
        self,
        name: str,
        df: DataFrame,
        bucket_by: list[str] | None = None,
        append: bool = False,
        pre_partitioned: bool = False,
    ) -> None:
        path = self._rel_path(self.new_dir, name)
        prev_path = self._rel_path(self.prev_dir, name)
        prev_meta = self.load_json(self._meta_name(name))
        if append and prev_path and os.path.exists(prev_path):
            prev_buckets = (prev_meta or {}).get("bucket_by")
            if bucket_by is None:
                # Keep the established layout — a non-bucketed delta file
                # inside a bucketed dir would corrupt the bucket scan.
                bucket_by = prev_buckets
            n_files = sum(
                1 for e in os.listdir(prev_path) if not e.startswith(("_", "."))
            )
            if prev_buckets == bucket_by and n_files < _COMPACT_AFTER_FILES:
                self._append_delta(
                    name, path, prev_path, df, bucket_by, prev_meta
                )
                return
            # Layout changed (bucket-key change between runs) or the
            # generation count crossed the compaction bound: fold every
            # accumulated file into one bucketed rewrite.
            prev = self.load_df(name)
            if prev is not None:
                df = prev.unionByName(df)
        if bucket_by:
            num = self._num_buckets()
            self._write_bucketed(path, df, bucket_by, num, pre_partitioned)
            self._save_bucket_meta(name, bucket_by, num, df.schema)
        else:
            # The input of this write may include the previous state at the
            # same logical name (read from prev_dir), so no self-overwrite
            # hazard. Claim the sidecar name as written WITHOUT creating it:
            # a stale bucket sidecar copied forward over a plain rewrite
            # would make the next load misread unbucketed files as buckets.
            df.write.mode("overwrite").parquet(path)
            self._written.add(self._meta_name(name))
        self._written.add(f"{name}.parquet")

    def _save_bucket_meta(
        self, name: str, bucket_by: list[str], num: int, schema: StructType
    ) -> None:
        # Written-schema record: load_df rebuilds the bucketed scan from
        # this instead of a per-load footer inference.
        self.save_json(
            self._meta_name(name),
            {"bucket_by": bucket_by, "num_buckets": num, "schema": schema.jsonValue()},
        )

    def _num_buckets(self) -> int:
        # Only a NEW relation reads this: the count is recorded in its
        # sidecar and every later append reuses the recorded count.
        return int(self.spark.conf.get("spark.sql.shuffle.partitions"))

    def _write_bucketed(
        self,
        path: str,
        df: DataFrame,
        bucket_by: list[str],
        num_buckets: int,
        pre_partitioned: bool = False,
    ) -> None:
        # DataFrameWriter only emits bucketed layout through saveAsTable;
        # write an external path-backed table, then drop the catalog entry
        # (files stay). repartition on the bucket keys first so each task
        # owns exactly one bucket — same Murmur3 hash as the bucket
        # assignment, so no task writes more than one file. With
        # pre_partitioned the caller vouches its partitions are already
        # bucket-aligned; bucket ids are assigned per row either way.
        if not pre_partitioned:
            df = df.repartition(num_buckets, *bucket_by)
        tbl = f"__kamu_state_{uuid.uuid4().hex}"
        (
            df.write.mode("overwrite")
            .bucketBy(num_buckets, *bucket_by)
            .option("path", path)
            .format("parquet")
            .saveAsTable(tbl)
        )
        self.spark.sql(f"DROP TABLE `{tbl}`")

    def _append_delta(
        self,
        name: str,
        path: str,
        prev_path: str,
        delta: DataFrame,
        bucket_by: list[str] | None,
        prev_meta: dict | None,
    ) -> None:
        # 1) Link the previous invocation's files forward — bucket ids are
        #    carried in the file names, so linked files keep their buckets.
        os.makedirs(path, exist_ok=True)
        for entry in os.listdir(prev_path):
            src = os.path.join(prev_path, entry)
            dst = os.path.join(path, entry)
            if not os.path.isfile(src) or os.path.exists(dst):
                continue
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)
        # 2) Write ONLY the delta, then move its files in. Spark part-file
        #    names embed a per-job UUID plus the bucket suffix, so names
        #    from different jobs can't collide; a defensive unique prefix
        #    keeps the bucket suffix (the reader parses `_NNNNN` from the
        #    END of the name) while ruling collisions out entirely.
        staging = os.path.join(self.new_dir, f".{name}.delta-{uuid.uuid4().hex}")
        if bucket_by:
            num = int((prev_meta or {}).get("num_buckets") or self._num_buckets())
            self._write_bucketed(staging, delta, bucket_by, num)
            # Delta layout must match the relation's, so the delta schema
            # IS the relation schema (see the append guard).
            self._save_bucket_meta(name, bucket_by, num, delta.schema)
        else:
            delta.write.mode("overwrite").parquet(staging)
        prefix = uuid.uuid4().hex[:8]
        for entry in os.listdir(staging):
            if entry.startswith(("_", ".")):
                continue
            os.replace(
                os.path.join(staging, entry), os.path.join(path, f"{prefix}-{entry}")
            )
        shutil.rmtree(staging, ignore_errors=True)
        self._written.add(f"{name}.parquet")

    def flush_deferred(self, also=None) -> None:
        """Run every queued state write — and `also` (a zero-arg callable,
        typically the output write) — with overlapping job submission.
        DataFrame plans are resolved at creation, so later temp-view
        rebinding cannot change a queued write; per-relation names are
        unique per invocation."""
        pending, self._deferred = self._deferred, []
        actions = [lambda it=it: self._write_df(*it) for it in pending]
        if also is not None:
            actions.append(also)
        if not actions:
            return
        if len(actions) == 1:
            actions[0]()
            return
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(len(actions), 6)) as pool:
            futures = [pool.submit(a) for a in actions]
            for f in futures:
                f.result()

    def finish(self) -> None:
        """Carry forward any previous-state entries this run didn't rewrite.
        Hard-links where possible (checkpoint dirs are immutable once
        written, so shared file bodies are safe) — O(files), not O(bytes)."""
        if self._deferred:
            raise RuntimeError("state writes queued after flush_deferred")
        if not self.prev_dir or not os.path.isdir(self.prev_dir):
            return
        for entry in os.listdir(self.prev_dir):
            if entry in self._written:
                continue
            src = os.path.join(self.prev_dir, entry)
            dst = os.path.join(self.new_dir, entry)
            if os.path.exists(dst):
                continue
            if os.path.isdir(src):
                try:
                    shutil.copytree(src, dst, copy_function=os.link)
                except OSError:
                    # The link attempt may have PARTIALLY succeeded; the
                    # retry must skip entries already hard-linked or plain
                    # copy2 raises SameFileError on them (aggregated into
                    # shutil.Error) and the carry-forward never completes.
                    def _copy_new(s, d):
                        if os.path.exists(d) and os.path.samefile(s, d):
                            return d
                        return shutil.copy2(s, d)

                    shutil.copytree(
                        src, dst, dirs_exist_ok=True, copy_function=_copy_new
                    )
            else:
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy2(src, dst)
