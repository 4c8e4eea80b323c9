"""Isolated-warm re-measure of bench entries — the MISS protocol tool.

bench.py's pins are calibrated from ISOLATED baselines (dedicated
session, n>=3 reps, cold rep dropped); a full-bench pin MISS is only a
real regression if it reproduces here (bench.py:50-53). This tool runs
any subset of entries in a dedicated session with the same per-rep
hygiene the bench applies (cache clear + JVM GC), prints every rep and
the warm median, and — with --profile — re-runs the last rep on a
UI-enabled session and prints the per-SQL-execution wall breakdown
(the scrape used for the round-13 phase attributions).

Usage:
    python tools/isobench.py [--reps N] [--profile] ENTRY [ENTRY ...]

ENTRY is a queries() registry entry (timed with the noop sink like the
bench HEADLINE section) or a bench.STRESS_ENTRIES entry (the stress_*
chains, stamp_2m_gate_default and stress_minhash_cluster_x10). Timings are wall seconds, same methodology as
bench.py (this tool exists so adjudication does not require a full suite
run); it changes nothing and writes nothing under the repo.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (module-level SQL constants + harness helpers)
import __spark_entry__ as entrymod  # noqa: E402
from kamu_engine_flink_spark.session import engine_session  # noqa: E402


def _parse_args(argv):
    reps, profile, as_json, names = 5, False, False, []
    it = iter(argv)
    for a in it:
        if a == "--reps":
            reps = int(next(it))
        elif a == "--profile":
            profile = True
        elif a == "--json":
            # One JSON object per entry on stdout (human lines move to
            # stderr) — the machine mode bench.py's pin-miss
            # self-adjudication consumes.
            as_json = True
        else:
            names.append(a)
    if not names:
        print(__doc__)
        raise SystemExit(2)
    return reps, profile, as_json, names


def _hygiene(spark):
    spark.catalog.clearCache()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


class _Runner:
    """Lazily builds the bench's fixture ledgers once per session."""

    def __init__(self, spark, sf_dir, workdir):
        self.spark, self.sf_dir, self.workdir = spark, sf_dir, workdir
        self._cache = {}

    # --- entry resolution -------------------------------------------------
    # Stress/stamp entries come from bench.STRESS_ENTRIES, the table
    # bench.main() runs, so the two cannot drift apart.
    def run_once(self, name: str) -> float:
        qs = entrymod.queries()
        if name in qs:
            df = qs[name](self.spark, self.sf_dir)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        if name in bench.STRESS_ENTRIES:
            return bench.run_stress_entry(
                self.spark, self.sf_dir, self.workdir, name,
                f"{name}-iso{time.monotonic_ns()}", self._cache,
            )

        raise KeyError(
            f"unknown entry {name!r} (not in queries() or "
            f"bench.STRESS_ENTRIES)"
        )


def _sql_execs(ui, app_id):
    return json.load(
        urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/sql?length=100000"
        )
    )


def main() -> None:
    reps, profile, as_json, names = _parse_args(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    extra = {"spark.ui.enabled": "true"} if profile else None
    spark = engine_session(app_name="isobench", extra_conf=extra)
    # Same session warmers as bench.main().
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    from pyspark.sql.functions import lit

    from kamu_engine_flink_spark.functions.minhash_pandas import (
        minhash_signature_fast,
        shingle_hashes_fast,
    )

    spark.range(0, 1000, 1, 32).select(
        shingle_hashes_fast(lit("warm up text"), 3),
        minhash_signature_fast(lit("warm up text"), 64, 3),
    ).count()

    ui = app_id = None
    if profile:
        ui = spark.sparkContext.uiWebUrl
        app_id = json.load(
            urllib.request.urlopen(f"{ui}/api/v1/applications")
        )[0]["id"]

    workdir = tempfile.mkdtemp(prefix="isobench-")
    try:
        runner = _Runner(spark, sf_dir, workdir)
        for name in names:
            runs, pre_ids = [], set()
            for i in range(reps):
                _hygiene(spark)
                if profile and i == reps - 1:
                    pre_ids = {s["id"] for s in _sql_execs(ui, app_id)}
                runs.append(round(runner.run_once(name), 3))
            warm = runs[1:] or runs
            warm_median = round(statistics.median(warm), 3)
            print(
                f"{name}: runs={runs} warm_median={warm_median}",
                file=sys.stderr if as_json else sys.stdout,
            )
            if as_json:
                print(json.dumps(
                    {"entry": name, "runs": runs, "warm_median": warm_median}
                ))
                sys.stdout.flush()
            if profile:
                recent = [
                    s for s in _sql_execs(ui, app_id) if s["id"] not in pre_ids
                ]
                recent.sort(key=lambda s: -s["duration"])
                tot = sum(s["duration"] for s in recent) / 1000
                print(
                    f"  last rep: {len(recent)} SQL execs, sum {tot:.2f}s "
                    f"(sum >> wall means overlapped writes)"
                )
                for s in recent:
                    if s["duration"] < 80:
                        continue
                    d = s.get("description", "")[:80].replace("\n", " ")
                    print(f"    {s['duration']/1000:7.2f}s  {d}")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
