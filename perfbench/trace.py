"""In-memory spans around the engine's public functions, for the traced run.

Nothing here changes the engine: the tracer replaces module attributes with
wrappers from outside, records one span per call (name, start, end, parent,
op id), and the Spark event log of the traced session is parsed afterwards
to give each span its jobs, stages, tasks, shuffle and spill bytes.

Jobs are assigned to the innermost span whose wall-clock interval holds the
job's submission time. The benchmark is one client on one thread, so every
job submitted while a span is open belongs to it; reading the event log
after the session stops also sees every job, where polling the status
tracker at span exit could miss jobs the asynchronous listener bus has not
delivered yet.
"""

from __future__ import annotations

import functools
import inspect
import json
import operator
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "skiliopay_datapipeline_customer_spark"

# operator modules whose self time is reported one by one
OPERATOR_MODULES = ("dedup", "similarity", "selection", "ranks", "sketches", "textops")

# a job submitted within this many seconds of a span edge still belongs to
# it: event-log times are whole milliseconds
EDGE_S = 0.0015


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op: str | None
    py4j_start: int
    end: float = 0.0
    py4j_calls: int = 0
    children_s: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


class Tracer:
    """Keeps spans in memory; ``enabled`` gates recording so untraced
    passes of the same process pay only an attribute check per call."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: str | None = None
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        s = Span(name, time.time(), parent, self.op, self.py4j_calls)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.time()
            s.py4j_calls = self.py4j_calls - s.py4j_start
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += s.duration

    # -- patching ----------------------------------------------------------

    def _set(self, owner, attr: str, value) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def wrap_function(self, fn, name: str, result=None) -> None:
        """Replace ``fn`` wherever a module of the engine binds it, so calls
        through ``from x import fn`` names are traced too. ``result``, if
        given, post-processes the return value (e.g. to wrap a returned
        callback)."""
        wrapper = _Traced(self, name, fn, result)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self._set(mod, attr, wrapper)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        self._set(cls, attr, _Traced(self, name, getattr(cls, attr)))

    def wrap_module(self, module, layer: str) -> None:
        """Trace every public function defined in ``module``."""
        for attr, value in list(vars(module).items()):
            if (
                not attr.startswith("_")
                and inspect.isfunction(value)
                and value.__module__ == module.__name__
            ):
                self.wrap_function(value, f"{layer}.{attr}")

    def count_py4j(self) -> None:
        """Count every command sent to the JVM (both py4j transports)."""
        import py4j.clientserver
        import py4j.java_gateway

        tracer = self
        for cls in (
            py4j.clientserver.ClientServerConnection,
            py4j.java_gateway.GatewayConnection,
        ):
            send = cls.send_command

            def counted(conn, command, *a, _send=send, **k):
                tracer.py4j_calls += 1
                return _send(conn, command, *a, **k)

            self._set(cls, "send_command", counted)

    def restore(self) -> None:
        for owner, attr, value in reversed(self._restore):
            setattr(owner, attr, value)
        self._restore.clear()


class _Traced:
    """A traced stand-in for an engine function.

    Pickles as the function it wraps, so a closure that the engine ships to
    Python workers and that names a traced function still sends the
    original, never the tracer."""

    def __init__(self, tracer: Tracer, name: str, fn, result=None) -> None:
        functools.update_wrapper(self, fn)
        self._tracer = tracer
        self._name = name
        self._fn = fn
        self._result = result

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name):
            out = self._fn(*args, **kwargs)
        return out if self._result is None else self._result(out)

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return operator.getitem, ([self._fn], 0)


def install(tracer: Tracer, workload_layers: tuple[str, ...]) -> None:
    """Wrap the engine's public functions of every measured layer;
    ``workload_layers`` names extra modules (dotted, under the package)."""
    import importlib

    from skiliopay_datapipeline_customer_spark import io
    from skiliopay_datapipeline_customer_spark.pipelines import medallion
    from skiliopay_datapipeline_customer_spark.plans import quality
    from skiliopay_datapipeline_customer_spark.streaming import sinks

    tracer.count_py4j()
    tracer.wrap_function(io.table, "io.table")
    for name in OPERATOR_MODULES:
        mod = importlib.import_module(f"{PACKAGE}.operators.{name}")
        tracer.wrap_module(mod, f"operators.{name}")
    tracer.wrap_method(medallion.MedallionPipeline, "run", "pipelines.medallion.run")
    tracer.wrap_function(quality.run_quality_checks, "plans.quality.run_quality_checks")
    for dotted in workload_layers:
        mod = importlib.import_module(f"{PACKAGE}.{dotted}")
        tracer.wrap_module(mod, dotted)

    def traced_batch(merge):
        return _Traced(tracer, "streaming.batch", merge)

    tracer.wrap_function(sinks.upsert_snapshot, "streaming.upsert_snapshot", traced_batch)


# -- event log -------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    description: str = ""
    span: int | None = None


@dataclass
class Stage:
    tasks: int = 0
    task_s: list[float] = field(default_factory=list)
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    # (trigger timestamp, input rows) of each streaming micro-batch
    stream_rows: list[tuple[str, int]] = field(default_factory=list)


def read_event_log(log_dir: str) -> EventLog:
    """Parse the (single, uncompressed) event log written to ``log_dir``."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    out = EventLog()
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                out.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"],
                    ev["Submission Time"] / 1000.0,
                    stages=list(ev["Stage IDs"]),
                    description=props.get("spark.job.description", ""),
                )
            elif kind == "SparkListenerJobEnd":
                out.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = out.stages.setdefault(ev["Stage ID"], Stage())
                info = ev["Task Info"]
                st.tasks += 1
                st.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
            elif kind.endswith("QueryProgressEvent"):
                prog = ev["progress"]
                rows = sum(src["numInputRows"] for src in prog["sources"])
                out.stream_rows.append((prog["timestamp"], rows))
    return out


def assign_jobs(spans: list[Span], log: EventLog) -> None:
    """Give each job to the innermost span open at its submission."""
    depth: list[int] = []
    for s in spans:
        depth.append(0 if s.parent is None else depth[s.parent] + 1)
    order = sorted(range(len(spans)), key=lambda i: spans[i].start)
    for job in log.jobs.values():
        best = None
        for i in order:
            s = spans[i]
            if s.start - EDGE_S > job.submit:
                break
            if job.submit <= s.end + EDGE_S and (
                best is None or (depth[i], s.start) > (depth[best], spans[best].start)
            ):
                best = i
        job.span = best
        if best is not None:
            spans[best].jobs.append(job.job_id)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
