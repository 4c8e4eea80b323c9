"""In-memory spans around the engine layers' public entry points.

The benchmark installs wrappers around each layer's entry point (for
every module binding of it, so `from x import f` call sites are covered
too) only for the traced chains of a `--trace 1` run, and removes them
again afterwards. Spans live in memory and are written out when the run
ends. Nothing inside the engine changes.

A span's parent is the innermost open span of its own thread or, for a
thread that has none open (the state-flush pool threads), the innermost
open span of the thread that opened the root span.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

PACKAGE = "kamu_engine_flink_spark"
ROOT = "invocation"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = defaultdict(list)
        self._root_thread: int | None = None

    @contextmanager
    def span(self, name: str):
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks[tid]
            if stack:
                parent = stack[-1].id
            elif self._root_thread is not None and self._stacks[self._root_thread]:
                parent = self._stacks[self._root_thread][-1].id
            else:
                parent = None
                self._root_thread = tid
            s = Span(len(self.spans), parent, name, self.clock())
            self.spans.append(s)
            stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            with self._lock:
                stack.remove(s)
                if parent is None:
                    self._root_thread = None

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    child spans cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    return {
        s.id: s.duration
        - union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]]
        )
        for s in spans
    }


def invocation_breakdown(spans: list[Span]) -> dict:
    """Per-layer self time of one invocation's spans (a single root span
    and its descendants), plus the top-level check: the root's direct
    children plus the root's own self time (`engine.self_s`) sum to the
    root's wall time exactly when the top-level spans do not overlap."""
    (root,) = [s for s in spans if s.parent is None]
    st = self_times(spans)
    layers: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    for s in spans:
        if s is root:
            continue
        layers[f"{s.name}_s"] += st[s.id]
        calls[s.name] += 1
    top = [s for s in spans if s.parent == root.id]
    return {
        "wall_s": root.duration,
        "layers": dict(layers),
        "calls": dict(calls),
        "engine.self_s": st[root.id],
        "top_level_s": sum(s.duration for s in top),
    }


def _bindings(original, modules):
    """(namespace, key) pairs in `modules` whose value is `original`:
    module attributes and entries of module-level dicts (the executor
    dispatch table)."""
    for mod in modules:
        for key, val in list(vars(mod).items()):
            if val is original:
                yield mod, key
            elif isinstance(val, dict) and not key.startswith("__"):
                for k2, v2 in list(val.items()):
                    if v2 is original:
                        yield val, k2


class Installer:
    """Replaces every binding of each traced function with a wrapper and
    restores the originals on `uninstall`."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list = []

    def _set(self, ns, key, value) -> None:
        if isinstance(ns, dict):
            self._undo.append((ns, key, ns[key]))
            ns[key] = value
        else:
            self._undo.append((ns, key, getattr(ns, key)))
            setattr(ns, key, value)

    def wrap_function(self, original, name: str, modules) -> None:
        wrapper = self.tracer.wrap(original, name)
        for ns, key in list(_bindings(original, modules)):
            self._set(ns, key, wrapper)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        self._set(cls, attr, self.tracer.wrap(getattr(cls, attr), name))

    def uninstall(self) -> None:
        while self._undo:
            ns, key, old = self._undo.pop()
            if isinstance(ns, dict):
                ns[key] = old
            else:
                setattr(ns, key, old)


def install_engine_spans(tracer: Tracer) -> Installer:
    """Wrap the layer entry points listed in perfbench/README.md. Returns
    the installer that removes the wrappers again."""
    from kamu_engine_flink_spark import adapter
    from kamu_engine_flink_spark.engine import state, transform  # noqa: F401
    from kamu_engine_flink_spark.plans import classify
    from kamu_engine_flink_spark.protocol import yaml_io
    from kamu_engine_flink_spark.sinks import parquet as sinks
    from kamu_engine_flink_spark.sources import parquet as sources

    mods = [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE) and m]
    inst = Installer(tracer)
    for fn, name in (
        (sources.read_parquet_slices, "sources.read"),
        (classify.classify, "plans.classify"),
        (classify.referenced_views, "plans.classify"),
        (sinks.write_single_parquet, "sink.write"),
        (adapter.tar_checkpoint, "adapter.tar"),
        (adapter.untar_checkpoint, "adapter.untar"),
        (yaml_io.dump_request, "protocol.yaml"),
        (yaml_io.load_transform_request, "protocol.yaml"),
        (yaml_io.dump_response, "protocol.yaml"),
    ):
        inst.wrap_function(fn, name, mods)
    for mod in mods:
        if mod.__name__.startswith(f"{PACKAGE}.operators."):
            for key, fn in list(vars(mod).items()):
                if (
                    key.startswith("execute_")
                    and callable(fn)
                    and getattr(fn, "__module__", None) == mod.__name__
                ):
                    inst.wrap_function(fn, f"operators.{key[len('execute_'):]}", mods)
    for attr, name in (
        ("load_df", "state.load"),
        ("flush_deferred", "state.flush"),
        ("finish", "state.finish"),
    ):
        inst.wrap_method(state.StateStore, attr, name)
    return inst


class Py4jCounter:
    """Counts py4j command round trips from this process to the JVM."""

    def __init__(self):
        self.calls = 0
        self._lock = threading.Lock()
        self._undo: list = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def counted(conn, *args, _orig=orig, **kwargs):
                with self._lock:
                    self.calls += 1
                return _orig(conn, *args, **kwargs)

            self._undo.append((cls, orig))
            cls.send_command = counted

    def uninstall(self) -> None:
        while self._undo:
            cls, orig = self._undo.pop()
            cls.send_command = orig
