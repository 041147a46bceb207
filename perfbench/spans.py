"""Spans recorded around calls into the engine's layers, plus the Spark
event-log fold that attributes executor work to each benchmark op.

Spans are kept in memory and written once when the run ends. A span is
``(id, name, start, end, parent, op)``; a layer's self time is its
duration minus the part covered by its child spans. Layer boundaries the
engine crosses internally (``plans`` calling ``datasets.load_table``, a
``Lakehouse.sql`` DML statement committing through ``SnapTable``) are
traced by wrapping the layer's public function for the traced run only;
the untraced run installs nothing.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. ``op`` is the benchmark op the span
    belongs to; nested spans take their parent from a per-thread stack."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op: str | None = None
        #: while positive, wrapped calls run untraced (benchmark bookkeeping
        #: that goes through a traced layer)
        self.paused = 0
        self._local = threading.local()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] += n

    def wrap(self, name: str, fn, counter: str | None = None):
        """``fn`` with every call recorded as a span ``name`` (and counted
        under ``counter``)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.paused:
                return fn(*args, **kwargs)
            if counter:
                self.count(counter)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, excluding time covered by child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class Patches:
    """Attribute replacements that are undone in reverse order."""

    def __init__(self) -> None:
        self._undo: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def undo(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)


def wrap_function(patches: Patches, tracer: Tracer, name: str, module, attr: str,
                  importers=(), counter: str | None = None) -> None:
    """Trace ``module.attr`` and every ``from module import attr`` binding
    of it in ``importers``."""
    original = getattr(module, attr)
    traced = tracer.wrap(name, original, counter)
    patches.set(module, attr, traced)
    for other in importers:
        if getattr(other, attr, None) is original:
            patches.set(other, attr, traced)


def wrap_methods(patches: Patches, tracer: Tracer, name: str, cls, methods) -> None:
    for attr in methods:
        patches.set(cls, attr, tracer.wrap(name, getattr(cls, attr)))


def wrap_module(patches: Patches, tracer: Tracer, name: str, module) -> None:
    """Trace every public function ``module`` defines. Calls between them
    go through the module's globals, so they nest as child spans of the
    same name and self time still adds up. A wrapped function keeps the
    original's module and name, so a UDF closure that refers to one is
    pickled by reference and the Python workers run the original."""
    for attr, fn in list(vars(module).items()):
        if (inspect.isfunction(fn) and not attr.startswith("_")
                and fn.__module__ == module.__name__ and not hasattr(fn, "evalType")):
            patches.set(module, attr, tracer.wrap(name, fn))


# -- Spark event log ------------------------------------------------------


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks and task metrics from every
    event-log file under ``log_dir``. Times are seconds, sizes bytes."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for fname in sorted(os.listdir(log_dir)):
        stage_group: dict[int, str] = {}
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    g = groups[group]
                    g["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group:
                        groups[stage_group[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "-")
                    g = groups[group]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    run_ms = m.get("Executor Run Time", 0)
                    duration_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    overhead_ms = (
                        run_ms
                        + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0)
                    )
                    g["scheduler_delay_s"] += max(duration_ms - overhead_ms, 0) / 1e3
                    g["run_s"] += run_ms / 1e3
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    rd = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    wr = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return {k: dict(v) for k, v in groups.items()}
