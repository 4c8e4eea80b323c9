"""Process and Spark counters: CPU and memory from /proc, task and stage
totals from the JVM's in-memory status store (no Spark UI, no REST)."""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None when the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def cpu_s(pid: int, children: bool = False) -> float:
    """User+system CPU seconds of a process; with `children`, plus that of
    its reaped children."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # After the command name: state=0 ppid=1 ... utime=11 stime=12
    # cutime=13 cstime=14.
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def descendants(pid: int) -> list[int]:
    """Every live process below `pid`."""
    parent_of = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                parent_of[int(entry)] = int(f[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def rss_peak_mb(pid: int) -> float:
    """Peak resident set size of a live process (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def checkpoint_files(cp_dir: str) -> dict[str, int]:
    """Split a new checkpoint directory into files this invocation wrote
    and files hard-linked forward from the previous checkpoint (link
    count above one). Relations are the `<name>.parquet` directories that
    received at least one newly written data file."""
    out = {
        "state.relations_written": 0,
        "state.files_written": 0,
        "state.bytes_written": 0,
        "state.files_linked": 0,
    }
    for root, dirs, files in os.walk(cp_dir):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        new_data = False
        for name in files:
            if name.startswith("."):
                continue  # checksum sidecars
            st = os.stat(os.path.join(root, name))
            if st.st_nlink > 1:
                out["state.files_linked"] += 1
            else:
                out["state.files_written"] += 1
                out["state.bytes_written"] += st.st_size
                new_data |= not name.startswith("_")
        if root != cp_dir and root.endswith(".parquet") and new_data:
            out["state.relations_written"] += 1
    return out


def cpu_split(driver_pid: int, jvm_pid: int) -> dict[str, float]:
    """CPU seconds of the Python driver, the JVM, and the Python workers
    (every process below the JVM, including workers already reaped by the
    worker daemon)."""
    return {
        "driver.cpu_s": cpu_s(driver_pid),
        "jvm.cpu_s": cpu_s(jvm_pid),
        "pyworker.cpu_s": sum(cpu_s(p, children=True) for p in descendants(jvm_pid)),
    }


class SparkCounters:
    """Job, stage and task totals of the work done since the last call,
    read from the driver's status store.

    A stage attempt is counted once, by its (stageId, attemptId). Only
    the stages that the new jobs reference are scanned: a retry attempt
    of an older stage belongs to the new job that resubmitted it, so it
    is found by id even though it sorts among old stages."""

    def __init__(self, sc):
        self._store = sc._jsc.sc().statusStore()
        self._quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._last_job = -1
        self._seen: set[tuple[int, int]] = set()
        self.delta()

    def _new_jobs(self) -> list:
        jobs = self._store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                break
            out.append(j)
        return out

    def delta(self) -> dict[str, float]:
        out = {
            "spark.jobs": 0,
            "spark.tasks": 0,
            "spark.single_task_stages": 0,
            "spark.task_s": 0.0,
            "spark.gc_s": 0.0,
            "spark.shuffle_write_bytes": 0,
            "spark.tasks_failed": 0,
        }
        jobs = self._new_jobs()
        if not jobs:
            return out
        out["spark.jobs"] = len(jobs)
        self._last_job = jobs[0].jobId()
        lowest = min(
            (j.stageIds().apply(k) for j in jobs for k in range(j.stageIds().size())),
            default=None,
        )
        if lowest is None:
            return out
        stages = self._store.stageList(None, False, False, self._quantiles, None)
        # Newest stage id first; stop below the lowest id the new jobs use.
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            if key[0] < lowest:
                break
            if key in self._seen:
                continue
            self._seen.add(key)
            if s.status().toString() == "SKIPPED":
                continue
            n = s.numTasks()
            out["spark.tasks"] += n
            out["spark.single_task_stages"] += n == 1
            out["spark.task_s"] += s.executorRunTime() / 1000
            out["spark.gc_s"] += s.jvmGcTime() / 1000
            out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spark.tasks_failed"] += s.numFailedTasks()
        return out
