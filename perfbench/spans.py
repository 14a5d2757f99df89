"""Spans around the engine's public entry points, and the Spark-side
counters a traced run adds to them.

Nothing here edits the engine: :func:`install` replaces public functions
and methods with timing wrappers in the running process only. Spans stay
in memory (:class:`Tracer`) with parent ids and are written out once, at
the end.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict

# Layer boundaries wrapped in a traced run: free functions per module, and
# classes whose public methods are wrapped. The span name is
# "<layer>.<function>".
_FUNCTIONS = {
    "sources": ("biglake_iceberg_python_spark.sources.tables", ["load_table"]),
    "stream": (
        "biglake_iceberg_python_spark.streaming.pipeline",
        ["stage_event_chunks", "read_event_stream", "run_stream_to_memory",
         "run_stream_foreach_batch"],
    ),
}
_CLASSES = {
    "catalog": ("biglake_iceberg_python_spark.lakehouse.catalog", "LakehouseCatalog"),
    "snapshots": ("biglake_iceberg_python_spark.lakehouse.snapshots", "SnapshotTable"),
}
_PACKAGE = "biglake_iceberg_python_spark"
LAYERS = ("operators", "sources", "catalog", "snapshots", "stream")


class Tracer:
    """In-memory span recorder. A span is ``[id, parent, name, t0, t1]``
    (epoch seconds); the parent is whichever span was open when it started
    (one client thread, so a stack is enough)."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append([sid, parent, name, time.time(), None])
            self._stack.append(sid)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                self.spans[sid][4] = time.time()

        return traced

    def _between(self, t0: float, t1: float) -> list[list]:
        return [s for s in self.spans if s[3] >= t0 and s[4] is not None and s[4] <= t1]

    def totals(self, t0: float, t1: float) -> tuple[dict[str, float], dict[str, int]]:
        """Inclusive seconds and call count per span name inside
        ``[t0, t1]``."""
        secs: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for s in self._between(t0, t1):
            secs[s[2]] += s[4] - s[3]
            calls[s[2]] += 1
        return dict(secs), dict(calls)

    def self_times(self, t0: float, t1: float) -> dict[str, float]:
        """Self seconds per layer inside ``[t0, t1]``: each span's duration
        minus the time its direct children cover."""
        sel = self._between(t0, t1)
        child = defaultdict(float)
        for s in sel:
            if s[1] is not None:
                child[s[1]] += s[4] - s[3]
        out: dict[str, float] = defaultdict(float)
        for s in sel:
            out[s[2].split(".", 1)[0]] += max(0.0, (s[4] - s[3]) - child[s[0]])
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"fields": ["id", "parent", "name", "t0", "t1"], "spans": self.spans}, fh)


def install(tracer: Tracer, registry: dict) -> None:
    """Wrap every layer boundary in this process.

    Free functions are re-bound in every loaded module of the engine that
    imported them by name, so a query module's ``load_table(...)`` call is
    traced too. ``QuerySpec.fn`` is wrapped per registry entry.
    """
    for layer, (mod_name, names) in _FUNCTIONS.items():
        mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=["_"])
        for fname in names:
            orig = getattr(mod, fname)
            wrapped = tracer.wrap(f"{layer}.{fname}", orig)
            for m_name, m in list(sys.modules.items()):
                if m_name.startswith(_PACKAGE) and getattr(m, fname, None) is orig:
                    setattr(m, fname, wrapped)
    for layer, (mod_name, cls_name) in _CLASSES.items():
        cls = getattr(__import__(mod_name, fromlist=["_"]), cls_name)
        for attr, value in list(vars(cls).items()):
            if not attr.startswith("_") and callable(value):
                setattr(cls, attr, tracer.wrap(f"{layer}.{attr}", value))
    for name, spec in registry.items():
        spec.fn = tracer.wrap(f"operators.{name}", spec.fn)


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded on ``df``'s query execution:
    analysis, optimization and planning."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def task_metrics(path: str) -> list[dict]:
    """Per-task counters from a Spark event log, which
    ``plans/eventlog.py`` does not keep: launch and finish time, shuffle
    bytes read and written, spill, input bytes and GC time."""
    out = []
    with open(path) as fh:
        for line in fh:
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            ti = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            inp = tm.get("Input Metrics") or {}
            out.append(
                {
                    "t0": ti.get("Launch Time", 0) / 1000.0,
                    "t1": ti.get("Finish Time", 0) / 1000.0,
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    "input": inp.get("Bytes Read", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                }
            )
    return out


def _within(t: float, t0: float, t1: float) -> bool:
    return t0 - 0.002 <= t <= t1 + 0.002


def jobs_between(jobs: list[dict], t0: float, t1: float) -> int:
    """Spark jobs submitted in ``[t0, t1]`` (epoch seconds; the event log
    has millisecond resolution). This attributes by time, not by job group:
    Spark runs streaming micro-batches on the stream's own thread, outside
    the caller's job group, so a group count would miss them."""
    return sum(_within(j["t0"], t0, t1) for j in jobs)


def execution_metrics(log_path: str, all_jobs: list[dict], ops, cores: int) -> dict[str, float]:
    """Execution-layer totals over the jobs (``plans/eventlog.py``'s
    ``parse_event_log``) submitted inside the timed operations ``ops``:
    job, stage and task counts, task counters from :func:`task_metrics`,
    and the operation wall time no job covers (``driver_gap_ms``)."""
    windows = [(o.start, o.end) for o in ops]

    def inside(t: float) -> bool:
        return any(_within(t, a, b) for a, b in windows)

    jobs = [j for j in all_jobs if inside(j["t0"])]
    tasks = [t for t in task_metrics(log_path) if inside(t["t0"])]
    task_s = sum(t["t1"] - t["t0"] for t in tasks)
    covered = 0.0
    for a, b in windows:
        spans = sorted((max(a, j["t0"]), min(b, j["t0"] + j["wall"])) for j in jobs)
        end = a
        for s0, s1 in spans:
            if s1 > end:
                covered += s1 - max(s0, end)
                end = s1
    wall = sum(b - a for a, b in windows)
    return {
        "execution.jobs": len(jobs),
        "execution.stages": sum(len(j["stages"]) for j in jobs),
        "execution.tasks": len(tasks),
        "execution.task_s": task_s,
        "execution.max_task_s": max((t["t1"] - t["t0"] for t in tasks), default=0.0),
        "execution.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "execution.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "execution.spill_bytes": sum(t["spill"] for t in tasks),
        "execution.input_bytes": sum(t["input"] for t in tasks),
        "execution.gc_ms": sum(t["gc_ms"] for t in tasks),
        "execution.driver_gap_ms": max(0.0, wall - covered) * 1000.0,
        "execution.core_utilization": task_s / (wall * cores) if wall else 0.0,
    }
