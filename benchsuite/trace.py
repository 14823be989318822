"""Spans recorded from the benchmark process, around calls into the
program's layers.

The benchmark runs one operation at a time, so the current operation is
a single process-wide value: a span opened on any thread (the HTTP
server's handler thread, a query's worker pool) belongs to it.  A span's
parent is the innermost open span on its own thread, or the operation's
root span when the thread has none open.  Spans stay in memory until the
run ends.

Executor-side numbers come from Spark's event log (see ``EventLog``):
jobs are attributed to an operation by their submission time, which is
exact because no two operations overlap.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def self_ms(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover.
    Children may overlap one another (worker threads), so the covered
    part is the union of their intervals, clipped to the span."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span.end - span.start - covered) * 1000.0


class Tracer:
    """Span store plus the current operation.  ``enabled`` gates span
    recording; ``begin_op``/``end_op`` always run so untraced phases keep
    their op windows for the event log."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.ops: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._op: Span | None = None
        self.py4j_calls = 0

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def begin_op(self, name: str, **attrs) -> Span:
        op = Span(self._new_id(), name, 0, None, time.time(), attrs=dict(attrs))
        op.op = op.sid
        op.attrs["py4j0"] = self.py4j_calls
        op.attrs["cpu0"] = time.process_time()
        self._op = op
        return op

    def end_op(self, op: Span) -> None:
        op.end = time.time()
        op.attrs["py4j_calls"] = self.py4j_calls - op.attrs.pop("py4j0")
        op.attrs["py_cpu_ms"] = (time.process_time() - op.attrs.pop("cpu0")) * 1000.0
        self._op = None
        self.ops.append(op)

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> Span | None:
        op = self._op
        if not self.enabled or op is None:
            return None
        st = self._stack()
        parent = st[-1].sid if st else op.sid
        sp = Span(self._new_id(), name, op.sid, parent, time.time())
        sp.attrs["py4j0"] = self.py4j_calls
        st.append(sp)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.time()
        sp.attrs["py4j_calls"] = self.py4j_calls - sp.attrs.pop("py4j0")
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            self.spans.append(sp)

    def count_py4j(self) -> None:
        # a lost increment under a thread race would undercount by one;
        # taking a lock on every py4j round trip would cost more than that
        if self.enabled and self._op is not None:
            self.py4j_calls += 1

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "ops": [s.__dict__ for s in self.ops],
                    "spans": [s.__dict__ for s in self.spans],
                },
                f,
            )


# Layer boundaries wrapped in traced runs: (module, owner, attribute, span).
# ``owner`` None means a module-level function.
WRAPPED = [
    ("horaedb_spark.metric.ingest", None, "decode_write_request", "metric.ingest.decode_write_request"),
    ("horaedb_spark.metric.ingest", None, "decode_metadata", "metric.ingest.decode_metadata"),
    ("horaedb_spark.metric.ingest", None, "decode_exemplars", "metric.ingest.decode_exemplars"),
    ("pyspark.sql.session", "SparkSession", "createDataFrame", "spark.create_df"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect", "spark.collect"),
    ("horaedb_spark.storage.table", "ColumnarTable", "bulk_ingest", "storage.table.bulk_ingest"),
    ("horaedb_spark.storage.table", "ColumnarTable", "scan", "storage.table.scan"),
    ("horaedb_spark.storage.table", "ColumnarTable", "scan_ssts", "storage.table.scan_ssts"),
    ("horaedb_spark.storage.manifest", "Manifest", "update", "storage.manifest.update"),
    ("horaedb_spark.storage.manifest", "Manifest", "find_ssts", "storage.manifest.find_ssts"),
    ("horaedb_spark.storage.manifest", "Manifest", "_schedule_fold", "storage.manifest.schedule_fold"),
    ("horaedb_spark.storage.compaction", "Compactor", "run_once", "storage.compaction.run_once"),
    ("horaedb_spark.metric.engine", "MetricEngine", "__init__", "metric.engine.build"),
    ("horaedb_spark.metric.engine", "MetricEngine", "select_series", "metric.engine.select_series"),
    ("horaedb_spark.metric.promql", "PromQLCompiler", "compile", "metric.promql.compile"),
]


def _observe(name: str, args: tuple, result, before) -> dict:
    """Counts recorded at the boundary where the work happens.  ``before``
    is the manifest's fold process when the call started."""
    if name.startswith("metric.ingest.decode"):
        return {"items": len(result)}
    if name == "storage.manifest.find_ssts":
        manifest = args[0]
        return {"found": len(result), "live": len(manifest._ssts)}
    if name == "storage.table.scan_ssts":
        return {"ssts": len(args[1])}
    if name == "storage.table.bulk_ingest":
        return {"bytes": sum(s.size_bytes for s in result)}
    if name == "storage.compaction.run_once":
        return {"bytes": result.size_bytes if result is not None else 0}
    if name == "storage.manifest.schedule_fold":
        proc = args[0]._fold_proc
        return {"launched": proc is not None and proc is not before}
    return {}


def _wrap(tracer: Tracer, fn, name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        sp = tracer.open(name)
        if sp is None:
            return fn(*args, **kwargs)
        before = getattr(args[0], "_fold_proc", None) if args else None
        try:
            result = fn(*args, **kwargs)
            sp.attrs.update(_observe(name, args, result, before))
            return result
        finally:
            tracer.close(sp)

    return traced


def install(tracer: Tracer) -> list:
    """Wrap every boundary in ``WRAPPED`` plus py4j's ``send_command``.
    Returns the undo list for ``uninstall``."""
    import importlib

    undo = []
    for mod_name, owner_name, attr, span in WRAPPED:
        mod = importlib.import_module(mod_name)
        owner = mod if owner_name is None else getattr(mod, owner_name)
        fn = owner.__dict__[attr]
        setattr(owner, attr, _wrap(tracer, fn, span))
        undo.append((owner, attr, fn))

    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command

    @functools.wraps(send)
    def counted(self, command, *a, **kw):
        tracer.count_py4j()
        return send(self, command, *a, **kw)

    ClientServerConnection.send_command = counted
    undo.append((ClientServerConnection, "send_command", send))
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, fn in reversed(undo):
        setattr(owner, attr, fn)


# ------------------------------------------------------------- event log


@dataclass
class OpExec:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class EventLog:
    """Executor numbers from an uncompressed, non-rolling Spark event log.
    Jobs belong to the operation whose [start, end] window holds their
    submission time; stages and tasks follow their job."""

    def __init__(self, path: str) -> None:
        self.jobs: list[tuple[float, list[int]]] = []  # (submit s, stage ids)
        self.stage_done: set[int] = set()
        self.tasks: dict[int, list[dict]] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    self.jobs.append((ev["Submission Time"] / 1000.0, list(ev["Stage IDs"])))
                elif kind == "SparkListenerStageCompleted":
                    self.stage_done.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.setdefault(ev["Stage ID"], []).append(ev.get("Task Metrics") or {})

    @staticmethod
    def find(log_dir: str) -> str:
        files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        return os.path.join(log_dir, files[0])

    def attribute(self, start: float, end: float) -> OpExec:
        out = OpExec()
        stages: set[int] = set()
        for submit, stage_ids in self.jobs:
            if start <= submit <= end:
                out.jobs += 1
                stages.update(s for s in stage_ids if s in self.stage_done)
        out.stages = len(stages)
        for sid in stages:
            for m in self.tasks.get(sid, []):
                out.tasks += 1
                out.executor_run_ms += m.get("Executor Run Time", 0)
                out.executor_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                out.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                out.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                out.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                out.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        return out
