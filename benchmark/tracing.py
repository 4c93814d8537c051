"""Per-layer tracing for the benchmark's traced runs (``--trace 1``).

Everything here sits outside the engine. Spans and counts are recorded
around the benchmark's own calls into the package's public functions
(``queries()[op]``, the ``artifacts`` serving functions, the public
``LogTable`` and ``KeyedTable`` methods, ``DataStreamWriter.start``), and
read from Catalyst's phase tracker, from a Spark event log written to the
run's own directory, from a ``StreamingQueryListener`` and from ``/proc``.

One traced call is two top-level spans under the call's root:

* ``operators.build`` -- the ``queries()[op](spark, sf_dir)`` call, with
  ``artifacts`` spans nested inside it;
* ``exec.action`` -- the ``noop`` sink write.

Catalyst's phases are not spans of their own: analysis runs eagerly inside
the build and is read from the DataFrame's ``queryExecution().tracker()``
before the write; optimization and planning run inside the write, on the
write's own ``QueryExecution``, and a ``WriteListener`` reads them from
there. Nothing is planned that an untraced call would not plan. Each span
runs under its own Spark job group, so the event log splits jobs, stages,
tasks and their metrics between build and action.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1 << 20
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
SINK_COMMIT = re.compile(r"[/\\]_log[/\\]\d+\.json$")


# -- spans ---------------------------------------------------------------


@dataclass
class Span:
    name: str
    t0: float
    parent: int | None
    t1: float = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


@dataclass
class Spans:
    """Spans of one traced call, kept in memory; ``stack`` holds the
    indexes of the open spans, innermost last."""

    items: list[Span] = field(default_factory=list)
    stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        self.items.append(Span(name, time.perf_counter(), parent))
        idx = len(self.items) - 1
        self.stack.append(idx)
        try:
            yield
        finally:
            self.stack.pop()
            self.items[idx].t1 = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Self time per span name: its duration minus the part its
        child spans cover (children never overlap: calls are serial)."""
        child = [0.0] * len(self.items)
        for s in self.items:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for i, s in enumerate(self.items):
            out[s.name] = out.get(s.name, 0.0) + s.dur - child[i]
        return out


# -- /proc ---------------------------------------------------------------


def _ppid_map() -> dict[int, int]:
    out = {}
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after its ')'
        out[int(e)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid``."""
    kids: dict[int, list[int]] = {}
    for child, parent in _ppid_map().items():
        kids.setdefault(parent, []).append(child)
    out: set[int] = set()
    todo = [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of the driver process and the JVM plus the current RSS of
    every process the JVM forked (the Python workers)."""
    kb = _status_kb(os.getpid(), "VmHWM") + _status_kb(jvm_pid, "VmHWM")
    kb += sum(_status_kb(p, "VmRSS") for p in descendants(jvm_pid))
    return kb / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user and nice
    return vals[7], sum(vals[:8])


# -- sink files ------------------------------------------------------------


def files_written_since(roots: list[str], t0_ns: int) -> list[tuple[str, int]]:
    """``(path, bytes)`` of every file under ``roots`` modified at or after
    ``t0_ns`` (wall clock): what the call left on disk in the sink roots."""
    out = []
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                if st.st_mtime_ns >= t0_ns:
                    out.append((p, st.st_size))
    return out


# -- event log -------------------------------------------------------------

# Stage accumulables (summed over a group's completed stages) and driver-side
# SQL metrics (summed over a group's SQL executions), by the key they add to.
_STAGE_METRICS = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_returned",
}
_DRIVER_METRICS = {
    "size of files read": "input",
    "written output": "output",
}


@dataclass
class GroupStats:
    """What the event log says about the jobs of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exchanges: int = 0
    scan_rows: int = 0
    python_rows: int = 0
    sums: dict[str, float] = field(default_factory=dict)

    def add(self, key: str, value: float) -> None:
        self.sums[key] = self.sums.get(key, 0.0) + value


def _walk_plan(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk_plan(c)


def _number(v) -> float | None:
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Per job group: its jobs, completed stages and their tasks, summed
    stage accumulables and driver-side SQL metrics, and from the SQL plans
    the exchanges of each execution's final plan, the rows out of file
    scans and the rows out of Python nodes."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    metric_name: dict[int, str] = {}
    row_kind: dict[int, str] = {}

    def register(ex: int, plan: dict) -> None:
        plans[ex] = plan
        for node in _walk_plan(plan):
            name = node.get("nodeName", "")
            for m in node.get("metrics", []):
                metric_name[m["accumulatorId"]] = m["name"]
                if m["name"] != "number of output rows":
                    continue
                if name.startswith(("Scan ", "BatchScan")):
                    row_kind[m["accumulatorId"]] = "scan"
                elif _PYTHON_NODE.search(name):
                    row_kind[m["accumulatorId"]] = "python"

    for e in _event_lines(path):
        ev = e["Event"].rsplit(".", 1)[-1]
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g is not None:
                groups.setdefault(g, GroupStats()).jobs += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = g
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            gs = groups.get(stage_group.get(info["Stage ID"]))
            if gs is None:
                continue
            gs.stages += 1
            gs.tasks += info["Number of Tasks"]
            for acc in info.get("Accumulables", []):
                val = _number(acc.get("Value"))
                if val is None:
                    continue
                key = _STAGE_METRICS.get(acc.get("Name"))
                if key is not None:
                    gs.add(key, val)
                kind = row_kind.get(acc.get("ID"))
                if kind == "scan":
                    gs.scan_rows += int(val)
                elif kind == "python":
                    gs.python_rows += int(val)
        elif ev == "SparkListenerSQLExecutionStart":
            g = e.get("jobGroupId")
            if g is not None:
                exec_group[e["executionId"]] = g
                groups.setdefault(g, GroupStats())
            register(e["executionId"], e["sparkPlanInfo"])
        elif ev == "SparkListenerSQLAdaptiveExecutionUpdate":
            register(e["executionId"], e["sparkPlanInfo"])
        elif ev == "SparkListenerDriverAccumUpdates":
            gs = groups.get(exec_group.get(e["executionId"]))
            if gs is None:
                continue
            for acc_id, val in e["accumUpdates"]:
                key = _DRIVER_METRICS.get(metric_name.get(acc_id))
                if key is not None:
                    gs.add(key, float(val))
    for ex, g in exec_group.items():
        groups[g].exchanges += sum(
            n.get("nodeName") in ("Exchange", "BroadcastExchange")
            for n in _walk_plan(plans[ex])
        )
    return groups


_WANTED = (
    '"SparkListenerJobStart"',
    '"SparkListenerStageCompleted"',
    "SQLExecutionStart",
    "SQLAdaptiveExecutionUpdate",
    "DriverAccumUpdates",
)


def _event_lines(path: str):
    """Decoded events of the kinds ``parse_event_log`` reads; task-level
    lines, the bulk of the log, are skipped before decoding."""
    files = sorted(
        os.path.join(d, f) for d, _sub, fs in os.walk(path) for f in fs
        if f.startswith("events_")
    )
    for fp in files:
        with open(fp) as fh:
            for line in fh:
                head = line[:120]
                if any(w in head for w in _WANTED):
                    yield json.loads(line)


# -- wrappers around the package's public functions ------------------------


class Tracer:
    """Spans and counts for the traced calls of one run.

    ``install`` wraps the package's artifact functions, the public
    ``LogTable`` / ``KeyedTable`` methods and ``DataStreamWriter.start``;
    ``uninstall`` puts the originals back. The wrappers only record while
    a traced call is open (``spans`` holds that call's spans)."""

    def __init__(self) -> None:
        self.spans: Spans | None = None
        self.counts: dict[str, float] = {}
        self._restore: list[tuple[object, str, object]] = []
        self._depth: dict[str, int] = {}
        self.stream_events: list[dict] = []

    # generic helpers
    def _add(self, key: str, v: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + v

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def _timed_method(self, layer: str, fn):
        """Time the outermost public call of ``layer`` (nested public calls
        of the same class are part of their caller's time)."""

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if self.spans is None or self._depth.get(layer, 0):
                return fn(*a, **kw)
            self._depth[layer] = 1
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self._depth[layer] = 0
                self._add(f"{layer}.method_s", time.perf_counter() - t0)

        return wrapper

    def _artifact(self, fn):
        from dataengineeringutils_spark import artifacts

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if self.spans is None:
                return fn(*a, **kw)
            n_built = len(artifacts.build_log())
            t0 = time.perf_counter()
            with self.spans.span("artifacts"):
                out = fn(*a, **kw)
            dt = time.perf_counter() - t0
            built = artifacts.build_log()[n_built:]
            if built:
                self._add("artifacts.misses", 1)
                self._add("artifacts.build_s", sum(b["build_sec"] for b in built))
            else:
                self._add("artifacts.hits", 1)
                self._add("artifacts.serve_s", dt)
            return out

        return wrapper

    def install(self) -> None:
        from pyspark.sql.streaming import DataStreamWriter

        from dataengineeringutils_spark import artifacts
        from dataengineeringutils_spark.keyed import KeyedTable
        from dataengineeringutils_spark.txnlog import LogTable

        for name in ("json_artifact", "df_artifact", "dir_artifact"):
            self._patch(artifacts, name, self._artifact(getattr(artifacts, name)))
        for cls, layer in ((LogTable, "txnlog"), (KeyedTable, "keyed")):
            for attr, val in list(vars(cls).items()):
                if attr.startswith("_"):
                    continue
                if inspect.isfunction(val):
                    self._patch(cls, attr, self._timed_method(layer, val))
                elif isinstance(val, classmethod):
                    inner = self._timed_method(layer, val.__func__)
                    self._patch(cls, attr, classmethod(inner))
        self._patch(
            DataStreamWriter, "start",
            self._timed_stream_start(DataStreamWriter.start),
        )

    def _timed_stream_start(self, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if self.spans is None:
                return fn(*a, **kw)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self._add("streaming.query_start_s", time.perf_counter() - t0)

        return wrapper

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def listener(self):
        """A ``StreamingQueryListener`` that keeps each progress event's
        trigger start (epoch ms), durations and state rows."""
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.stream_events

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({
                    "id": str(p.id),
                    "ts_ms": _iso_ms(p.timestamp),
                    "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    "add_batch_ms": p.durationMs.get("addBatch", 0),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()


def _iso_ms(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000


def phases_ms(tracker, phases) -> dict[str, float]:
    """Durations of ``phases`` in a ``QueryPlanningTracker`` (0 if absent)."""
    got = tracker.phases()
    out = {}
    for phase in phases:
        opt = got.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class WriteListener:
    """A ``QueryExecutionListener``, called back over py4j, that keeps the
    optimization and planning times of one awaited ``noop`` write: the
    Catalyst work the write itself does on its own ``QueryExecution``.

    ``expect(plan)`` names the DataFrame plan the next write wraps; the
    listener bus delivers events asynchronously, so ``wait`` blocks until
    that write's event has arrived."""

    def __init__(self) -> None:
        self._target = None
        self._done = threading.Event()
        self.phases: dict[str, float] | None = None

    def expect(self, logical_plan) -> None:
        self.phases = None
        self._done.clear()
        self._target = logical_plan

    def wait(self, timeout: float = 30.0) -> dict[str, float]:
        if not self._done.wait(timeout):
            self._target = None
            raise RuntimeError("no QueryExecutionListener event for the noop write")
        return self.phases

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802,N803 -- Java interface
        target = self._target
        if target is None or funcName != "overwrite":
            return
        logical = qe.logical()
        if logical.nodeName() != "OverwriteByExpression" or not logical.query().equals(target):
            return
        self.phases = phases_ms(qe.tracker(), ("optimization", "planning"))
        self._target = None
        self._done.set()

    def onFailure(self, funcName, qe, exception):  # noqa: N802,N803 -- Java interface
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
