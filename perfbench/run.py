"""The repo benchmark: chains of resumed ODF transform invocations driven
through `EngineAdapter(in_process=True).execute_transform`.

    python3 perfbench/run.py --workload topn_resume --seed 1 --seconds 12 --trace 0

Run it from the repo root (it changes into the root itself either way:
Python workers import the engine package from the working directory).
One run is one fresh driver process on local[<cores>] with the engine's
shipped defaults. It builds seeded fixtures (no Spark), starts the
session and runs an untimed warm-up chain (`setup_s`), then times whole
chains for as long as the next one, at the median chain time so far,
still fits in `--seconds` (three chains at least). Every
invocation's output is checked; a failed check counts in `failed` and
the run goes on.

With `--trace 0` the result holds the end-to-end metrics. With
`--trace 1` chains alternate between untraced and traced (four at
least); the traced
ones record in-memory spans around the layer entry points plus process,
Spark and checkpoint counters, and the result holds the per-layer
metrics (medians over traced chains of the per-chain sums) and the
tracing overhead. The per-invocation layer table is written to
`.perfbench_work/trace-<workload>-seed<seed>.json`.

The last line of standard output is the JSON result. All files go under
`.perfbench_work/` in the repo root; the run's own workspace is removed
at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kamu_engine_flink_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
# Warm-up chains before timing starts: one replica of the same inputs.
WARMUP_REPLICAS = 1
WARMUP_CHAINS = 2
# Chains a run measures at least, however long they take.
MIN_CHAINS = 3
MIN_TRACED_CHAINS = 4

# Per-layer metrics every traced run reports, with their units. Layers a
# workload never enters report 0.
# Spans of other executors land in `operators.other_s`.
OPERATOR_KINDS = ("topn", "keyed_topn", "map", "unbounded_agg", "changelog_temporal_join")
PER_LAYER = {
    "sources.read_s": "s",
    "sources.input_rows": "count",
    "sources.input_bytes": "bytes",
    "plans.classify_s": "s",
    "plans.calls": "count",
    "driver.py4j_calls": "count",
    "driver.cpu_s": "s",
    **{f"operators.{k}_s": "s" for k in OPERATOR_KINDS},
    "operators.other_s": "s",
    "pyworker.cpu_s": "s",
    "state.load_s": "s",
    "state.flush_s": "s",
    "state.finish_s": "s",
    "state.relations_written": "count",
    "state.files_written": "count",
    "state.bytes_written": "bytes",
    "state.files_linked": "count",
    "sink.write_s": "s",
    "sink.rows": "count",
    "sink.bytes": "bytes",
    "adapter.tar_s": "s",
    "adapter.untar_s": "s",
    "adapter.checkpoint_bytes": "bytes",
    "protocol.yaml_s": "s",
    "engine.self_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.single_task_stages": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.tasks_failed": "count",
    "jvm.cpu_s": "s",
    "driver.peak_rss_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "invocation_s.p50": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(run_dir: str) -> None:
    """Process-wide settings, made before pyspark is imported: Spark's
    local files and the JVM's temp files stay in the run directory, and
    Python workers find the engine package through the working
    directory and PYTHONPATH."""
    cores = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cores
    for key in list(os.environ):
        if key.startswith("SPARK_GRAFT_") and key != "SPARK_GRAFT_CPUS":
            del os.environ[key]
    os.environ.pop("SPARK_MASTER", None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(ROOT)
    sys.path[:0] = [ROOT, HERE]


class Chain:
    """Runs one chain of invocations through a fresh adapter workspace
    and checks every invocation's output."""

    def __init__(self, w, slices, run_dir: str, tag: str, failures, traced=None):
        from kamu_engine_flink_spark.adapter import EngineAdapter

        self.w = w
        self.slices = slices
        self.dir = os.path.join(run_dir, tag)
        self.adapter = EngineAdapter(workspace=os.path.join(self.dir, "adapter"), in_process=True)
        self.failures = failures
        self.traced = traced
        self.outputs: list[str] = []
        self.invocation_s: list[float] = []

    def run(self) -> float:
        from checks import check_invocation
        from workloads import build_request

        n = len(next(iter(self.slices.values())))
        next_offset, cp = 0, None
        total = 0.0
        for i in range(n):
            data_path = os.path.join(self.dir, f"out-{i}.parquet")
            req = build_request(self.w, self.slices, i, next_offset, data_path)
            inv = self.failures.new_invocation()
            if self.traced is not None:
                self.traced.before()
            t0 = time.perf_counter()
            try:
                if self.traced is not None:
                    with self.traced.tracer.span("invocation"):
                        resp, cp = self.adapter.execute_transform(req, cp)
                else:
                    resp, cp = self.adapter.execute_transform(req, cp)
            except Exception as e:  # the adapter itself failed
                dt = time.perf_counter() - t0
                self.failures.fail(inv, f"adapter raised {type(e).__name__}: {e}")
                resp, cp = {"kind": "adapterError"}, None
            else:
                dt = time.perf_counter() - t0
            total += dt
            self.invocation_s.append(dt)
            if self.traced is not None:
                self.traced.after(self, i, data_path, cp)
            for problem in check_invocation(resp, data_path, next_offset):
                self.failures.fail(inv, f"invocation {i}: {problem}")
            interval = resp.get("new_offset_interval")
            if interval is not None:
                next_offset = interval["end"] + 1
                self.outputs.append(data_path)
        return total

    def check_net(self) -> None:
        """Net result of the chain against the DuckDB oracle; a mismatch
        fails the chain's last invocation."""
        from checks import net_mismatches
        from workloads import oracle_query

        if self.w.oracle_sql is None:
            return
        problems = net_mismatches(
            self.outputs,
            list(self.w.net_columns),
            oracle_query(self.w, self.slices),
            list(self.w.compare_columns),
        )
        for problem in problems:
            self.failures.fail(self.failures.attempted - 1, f"net result: {problem}")

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


class TracedInvocations:
    """Spans, process, Spark and checkpoint counters for traced chains.
    `before`/`after` bracket each invocation; the counters are read
    outside the invocation's timed span."""

    def __init__(self, spark):
        from counters import SparkCounters
        from tracing import Py4jCounter, Tracer

        self.tracer = Tracer()
        self.spark_counters = SparkCounters(spark.sparkContext)
        self.py4j = Py4jCounter()
        self.driver_pid = os.getpid()
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.rows: list[dict] = []
        self._installer = None

    def install(self) -> None:
        from tracing import install_engine_spans

        self._installer = install_engine_spans(self.tracer)
        self.py4j.install()

    def uninstall(self) -> None:
        self.py4j.uninstall()
        self._installer.uninstall()

    def before(self) -> None:
        from counters import cpu_split

        self.spark_counters.delta()
        self._cpu0 = cpu_split(self.driver_pid, self.jvm_pid)
        self._calls0 = self.py4j.calls
        self._span0 = len(self.tracer.spans)

    def after(self, chain: Chain, i: int, data_path: str, cp_tar: str | None) -> None:
        import pyarrow.parquet as pq
        from counters import checkpoint_files, cpu_split
        from tracing import invocation_breakdown

        calls = self.py4j.calls - self._calls0
        cpu1 = cpu_split(self.driver_pid, self.jvm_pid)
        spans = self.tracer.spans[self._span0 :]
        b = invocation_breakdown(spans)
        row = {k: 0.0 for k in PER_LAYER}
        for name, v in b["layers"].items():
            row[name if name in row else "operators.other_s"] += v
        row["plans.calls"] = b["calls"].get("plans.classify", 0)
        row["engine.self_s"] = b["engine.self_s"]
        row["driver.py4j_calls"] = calls
        for k, v in cpu1.items():
            row[k] = v - self._cpu0[k]
        row.update(self.spark_counters.delta())
        for s in chain.slices.values():
            row["sources.input_rows"] += s[i].rows
            row["sources.input_bytes"] += s[i].bytes
        if os.path.exists(data_path):
            row["sink.rows"] = pq.ParquetFile(data_path).metadata.num_rows
            row["sink.bytes"] = os.path.getsize(data_path)
        cp_dir = os.path.join(chain.adapter.workspace, "in-out", "checkpoint-new")
        if os.path.isdir(cp_dir):
            row.update(checkpoint_files(cp_dir))
        if cp_tar and os.path.exists(cp_tar):
            row["adapter.checkpoint_bytes"] = os.path.getsize(cp_tar)
        row["wall_s"] = b["wall_s"]
        row["top_level_plus_self_s"] = b["top_level_s"] + b["engine.self_s"]
        self.rows.append({"invocation": i, **row})


def chain_sums(rows: list[dict], n: int) -> list[dict]:
    """Per-chain sums of the per-invocation rows (n invocations a chain)."""
    out = []
    for c in range(0, len(rows), n):
        out.append({k: sum(r[k] for r in rows[c : c + n]) for k in PER_LAYER})
    return out


def stop_session(spark) -> None:
    """Stop Spark, wait for the JVM to exit, then for the Python worker
    processes it started."""
    import signal
    import subprocess

    from counters import descendants

    gw = spark.sparkContext._gateway
    proc = gw.proc
    workers = descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in workers:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    prepare_environment(run_dir)

    from checks import FailureLog
    from counters import rss_peak_mb
    from stats import summary
    from workloads import WORKLOADS, input_slices

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    cache = os.path.join(WORK, "cache")
    slices = input_slices(w, cache, args.seed, w.replicas)
    warm_slices = input_slices(w, cache, args.seed, WARMUP_REPLICAS)

    spark = None
    try:
        failures = FailureLog()
        warm_failures = FailureLog()

        t0 = time.perf_counter()
        from kamu_engine_flink_spark.session import engine_session

        spark = engine_session()
        session_s = time.perf_counter() - t0
        warm_s = []
        for c in range(WARMUP_CHAINS):
            chain = Chain(w, warm_slices, run_dir, f"warmup-{c}", warm_failures)
            warm_s.append(chain.run())
            chain.cleanup()
        setup_s = time.perf_counter() - t0
        print(
            f"session {session_s:.2f} s, warm-up chains {[round(t, 3) for t in warm_s]}",
            file=sys.stderr,
        )
        if warm_failures.failed:
            print("warm-up failed: " + "; ".join(warm_failures.reasons()), file=sys.stderr)
            return 1

        traced = TracedInvocations(spark) if args.trace else None
        run_s, traced_run_s, invocation_s = [], [], []
        t_measure = time.perf_counter()
        measured, c = 0.0, 0
        min_chains = MIN_CHAINS if traced is None else MIN_TRACED_CHAINS
        while c < min_chains or measured + statistics.median(run_s + traced_run_s) <= args.seconds:
            # Untraced, traced, traced, untraced, ...: chains still get
            # faster as the JIT warms, and this order cancels a steady drift
            # out of the overhead.
            use_trace = traced is not None and c % 4 in (1, 2)
            if use_trace:
                traced.install()
            chain = Chain(w, slices, run_dir, f"chain-{c}", failures, traced if use_trace else None)
            try:
                t = chain.run()
            finally:
                if use_trace:
                    traced.uninstall()
            chain.check_net()
            chain.cleanup()
            (traced_run_s if use_trace else run_s).append(t)
            if not use_trace:
                invocation_s.extend(chain.invocation_s)
            measured += t
            c += 1
        print(
            f"setup {setup_s:.2f} s, {c} chains measured {measured:.2f} s "
            f"in {time.perf_counter() - t_measure:.2f} s: "
            f"untraced {[round(t, 3) for t in run_s]}, traced {[round(t, 3) for t in traced_run_s]}",
            file=sys.stderr,
        )

        if traced is None:
            latency = summary(invocation_s)
            print(f"invocation latency over {latency['n']} invocations", file=sys.stderr)
            metrics = {
                "setup_s": setup_s,
                "run_s": statistics.median(run_s),
                "invocation_s.p50": latency["p50"],
            }
            units = END_TO_END
        else:
            n = len(next(iter(slices.values())))
            sums = chain_sums(traced.rows, n)
            metrics = {k: statistics.median(s[k] for s in sums) for k in PER_LAYER}
            metrics["driver.peak_rss_mb"] = rss_peak_mb(os.getpid())
            metrics["jvm.peak_rss_mb"] = rss_peak_mb(traced.jvm_pid)
            metrics["trace.overhead_s"] = statistics.median(traced_run_s) - statistics.median(run_s)
            units = PER_LAYER
            table = {
                "workload": w.name,
                "seed": args.seed,
                "untraced_run_s": run_s,
                "traced_run_s": traced_run_s,
                # Invocations whose top-level spans overlap, so that they
                # plus engine.self_s do not sum to the wall time.
                "span_sum_mismatches": sum(
                    abs(r["top_level_plus_self_s"] - r["wall_s"]) > 1e-6 for r in traced.rows
                ),
                "invocations": traced.rows,
                "per_chain_median": metrics,
            }
            with open(os.path.join(WORK, f"trace-{w.name}-seed{args.seed}.json"), "w") as f:
                json.dump(table, f, indent=1)
            print_table(w.name, metrics, sys.stderr)
        for reason in failures.reasons():
            print(f"check failed: {reason}", file=sys.stderr)
        result = {
            "correct": failures.failed == 0,
            "attempted": failures.attempted,
            "failed": failures.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def print_table(name: str, metrics: dict, out) -> None:
    print(f"per-layer medians per chain, {name}:", file=out)
    for k, v in metrics.items():
        print(f"  {k:32s} {v:14.4f} {PER_LAYER[k]}", file=out)


if __name__ == "__main__":
    import signal

    # A terminated run still stops its JVM and removes its workspace.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main(sys.argv[1:]))
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
