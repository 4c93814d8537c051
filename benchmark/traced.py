"""The traced run (``--trace 1``): per-layer metrics of one workload.

Same set-up and warm-up as an untraced run. Each timed round then calls
every op twice, once untraced and once traced, alternating which comes
first; the untraced calls give the tracing overhead and the floor share.
A traced call records the spans described in ``tracing.py``, the files it
left in the sink roots, the Python workers forked during it and the
process tree's memory. Job-level numbers come from the run's event log,
read once Spark has stopped (``finish``).

``tracing.span_cover_err`` checks the spans against the untraced calls: the
sum of a traced call's build, Catalyst, action and artifact self times over
the wall time of the untraced call of the same op next to it, as the
distance of the median of that ratio over all traced calls from 1. Work
that tracing adds to a call (such as planning it twice) shows there.

Every value is a mean per traced call unless its name says otherwise:
``session.start_s``, ``registry.load_s``, ``artifacts.build_s`` and
``artifacts.mb`` describe the set-up; ``artifacts.hit_ratio``,
``sinks.write_amp``, ``floor.*``, ``proc.peak_rss_mb``, ``host.steal_frac``
and ``tracing.*`` are ratios, medians or peaks over the timed phase.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

import run as bench
from tracing import (
    MB,
    SINK_COMMIT,
    Spans,
    Tracer,
    WriteListener,
    cpu_ticks,
    descendants,
    files_written_since,
    parse_event_log,
    phases_ms,
    tree_rss_mb,
)

_PHASES = ("build", "act")
# noop writes of spark.range(1) timed before the timed rounds for floor.noop_s
FLOOR_PROBES = 5


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total / MB


def _timed_noop(spark) -> float:
    t0 = time.perf_counter()
    bench.noop(spark.range(1))
    return time.perf_counter() - t0


def traced_call(loop, tracer: Tracer, writes: WriteListener, i: int, op: str,
                dirs: dict, jvm_pid: int):
    """One traced call: the build and the noop action, each a span under
    the call's root span and each under the job group ``pb<i>.<phase>``,
    with Catalyst's phase times read from the DataFrame (analysis) and from
    the write (optimization, planning). ``None`` if the call raised."""
    spark = loop.spark
    sc = spark.sparkContext
    spans = Spans()
    tracer.spans, tracer.counts = spans, {}
    loop.attempted += 1
    kids0 = descendants(jvm_pid)
    t0_ns = time.time_ns()
    try:
        with spans.span("call"):
            sc.setLocalProperty("spark.jobGroup.id", f"pb{i}.build")
            with spans.span("operators.build"):
                df = loop.qs[op](spark, loop.sf_dir)
            # analysis ran eagerly in the build; read it before the write,
            # which adds its own re-analysis to this tracker
            phases = phases_ms(df._jdf.queryExecution().tracker(), ("analysis",))
            writes.expect(df._jdf.logicalPlan())
            sc.setLocalProperty("spark.jobGroup.id", f"pb{i}.act")
            with spans.span("exec.action"):
                bench.noop(df)
        phases.update(writes.wait())
    except Exception:  # noqa: BLE001 -- counted, recorded, not retried
        loop.failed += 1
        loop.errors.setdefault(op, traceback.format_exc(limit=3)[-600:])
        return None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracer.spans = None
    t1_ns = time.time_ns()
    written = files_written_since([dirs["scratch"], dirs["warehouse"]], t0_ns)
    root = spans.items[0]
    self_s = spans.self_times()
    # Catalyst's phases ran inside the build (analysis) and the action
    # (optimization, planning): take them out of those spans' self times
    self_s["catalyst"] = sum(phases.values()) / 1e3
    self_s["operators.build"] -= phases["analysis"] / 1e3
    self_s["exec.action"] -= (phases["optimization"] + phases["planning"]) / 1e3
    return {
        "op": op,
        "i": i,
        "wall": root.dur,
        "window_ms": (t0_ns / 1e6, t1_ns / 1e6),
        "self": self_s,
        "spans_s": sum(s.dur for s in spans.items if s.parent == 0),
        "phases": phases,
        "counts": dict(tracer.counts),
        "sink_bytes": sum(b for _p, b in written),
        "sink_files": len(written),
        "commits": sum(bool(SINK_COMMIT.search(p)) for p, _b in written),
        "forks": len(descendants(jvm_pid) - kids0),
    }


def run(loop, args, dirs: dict, layers: dict) -> dict:
    from pyspark import SparkContext

    from dataengineeringutils_spark import artifacts

    spark = loop.spark
    jvm_pid = SparkContext._gateway.proc.pid
    tracer = Tracer()
    spark.streams.addListener(tracer.listener())
    writes = WriteListener()
    listeners = spark._jsparkSession.listenerManager()
    listeners.register(writes)
    tracer.install()
    try:
        outputs, _collect_s = loop.collect_round()
        warm = loop.warm_up()
        layers["artifacts.build_s"] = sum(b["build_sec"] for b in artifacts.build_log())
        layers["artifacts.mb"] = dir_mb(dirs["artifacts"])
        floor = [_timed_noop(spark) for _ in range(FLOOR_PROBES)]
        records, untraced, rss = [], [], []
        steal0, total0 = cpu_ticks()
        i = 0
        for _ in range(bench.timed_rounds(args.seconds)):
            for op in loop.order():
                rec = dt = None
                for traced_first in ((True, False) if i % 2 else (False, True)):
                    if traced_first:
                        rec = traced_call(loop, tracer, writes, i, op, dirs, jvm_pid)
                    else:
                        dt, _ = loop.call(op)
                if rec is not None:
                    # the untraced call of the same op next to it
                    rec["untraced_s"] = dt
                    records.append(rec)
                if dt is not None:
                    untraced.append(dt)
                rss.append(tree_rss_mb(jvm_pid))
                i += 1
            floor.append(_timed_noop(spark))
        steal1, total1 = cpu_ticks()
        _settle(tracer.stream_events)
    finally:
        tracer.uninstall()
        listeners.unregister(writes)
    layers["floor.noop_s"] = statistics.median(floor)
    layers["proc.peak_rss_mb"] = max(rss)
    layers["host.steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    return {
        "outputs": outputs,
        "records": records,
        "untraced": untraced,
        "stream_events": list(tracer.stream_events),
        "metrics": layers,
        "detail": {
            "warmup_rounds": len(warm),
            "warmup_round_s": [round(t, 3) for t in warm],
            "traced_calls": len(records),
            "untraced_calls": len(untraced),
        },
    }


def _settle(events: list, quiet_s: float = 0.5, limit_s: float = 10.0) -> None:
    """Wait until the streaming listener has been quiet for ``quiet_s``:
    its events arrive asynchronously from the listener bus."""
    deadline = time.monotonic() + limit_s
    n = -1
    while n != len(events) and time.monotonic() < deadline:
        n = len(events)
        time.sleep(quiet_s)


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def finish(result: dict, dirs: dict) -> None:
    """Fill in the per-layer metrics once Spark has stopped and the event
    log is complete."""
    groups = parse_event_log(dirs["eventlog"])
    recs = result.pop("records")
    untraced = result.pop("untraced")
    events = result.pop("stream_events")
    m = result["metrics"]
    if not recs or not untraced:
        raise RuntimeError("traced run made no successful traced call")

    def g(rec, phase):
        return groups.get(f"pb{rec['i']}.{phase}")

    def over_jobs(rec, attr=None, key=None):
        total = 0.0
        for ph in _PHASES:
            gs = g(rec, ph)
            if gs is None:
                continue
            total += getattr(gs, attr) if attr else gs.sums.get(key, 0.0)
        return total

    def count(rec, key):
        return rec["counts"].get(key, 0.0)

    m["operators.build_s"] = _mean(r["self"]["operators.build"] for r in recs)
    m["operators.build_jobs"] = _mean(
        g(r, "build").jobs if g(r, "build") else 0 for r in recs
    )
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = _mean(r["phases"][phase] for r in recs)
    m["exec.action_s"] = _mean(r["self"]["exec.action"] for r in recs)
    for attr in ("jobs", "stages", "tasks", "exchanges"):
        m[f"exec.{attr}"] = _mean(over_jobs(r, attr) for r in recs)
    for name, key, scale in (
        ("exec.shuffle_write_mb", "shuffle_write", MB),
        ("exec.shuffle_read_mb", "shuffle_read", MB),
        ("exec.input_mb", "input", MB),
        ("exec.spill_mb", "spill", MB),
        ("exec.executor_cpu_s", "cpu_ns", 1e9),
        ("exec.gc_s", "gc_ms", 1e3),
        ("udf.python_mb_sent", "py_sent", MB),
        ("udf.python_mb_returned", "py_returned", MB),
    ):
        m[name] = _mean(over_jobs(r, key=key) / scale for r in recs)
    out_rows = result["detail"].setdefault("output_rows", {})
    ratios = [
        over_jobs(r, "scan_rows") / out_rows[r["op"]]
        for r in recs
        if out_rows.get(r["op"])
    ]
    m["tables.input_rows_per_output_row"] = _mean(ratios)
    m["udf.python_rows"] = _mean(over_jobs(r, "python_rows") for r in recs)
    m["udf.worker_forks"] = _mean(r["forks"] for r in recs)

    hits = sum(count(r, "artifacts.hits") for r in recs)
    misses = sum(count(r, "artifacts.misses") for r in recs)
    m["artifacts.hits"] = hits / len(recs)
    m["artifacts.misses"] = misses / len(recs)
    m["artifacts.serve_s"] = _mean(count(r, "artifacts.serve_s") for r in recs)
    m["artifacts.hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0

    sink_bytes = sum(r["sink_bytes"] for r in recs)
    output_bytes = sum(over_jobs(r, key="output") for r in recs)
    m["sinks.disk_write_mb"] = sink_bytes / MB / len(recs)
    m["sinks.write_amp"] = sink_bytes / output_bytes if output_bytes else 0.0
    m["sinks.files"] = _mean(r["sink_files"] for r in recs)
    m["txnlog.commits"] = _mean(r["commits"] for r in recs)
    m["txnlog.method_s"] = _mean(count(r, "txnlog.method_s") for r in recs)
    m["keyed.method_s"] = _mean(count(r, "keyed.method_s") for r in recs)

    per_call = []
    for r in recs:
        lo, hi = r["window_ms"]
        mine = [e for e in events if lo <= e["ts_ms"] <= hi]
        last_state: dict[str, int] = {}
        for e in mine:
            last_state[e["id"]] = e["state_rows"]
        per_call.append((
            len(mine),
            sum(e["trigger_ms"] for e in mine),
            sum(e["add_batch_ms"] for e in mine),
            sum(last_state.values()),
        ))
    m["streaming.batches"] = _mean(c[0] for c in per_call)
    m["streaming.trigger_ms"] = _mean(c[1] for c in per_call)
    m["streaming.add_batch_ms"] = _mean(c[2] for c in per_call)
    m["streaming.state_rows"] = _mean(c[3] for c in per_call)
    m["streaming.query_start_s"] = _mean(
        count(r, "streaming.query_start_s") for r in recs
    )

    traced_p50 = statistics.median(r["wall"] for r in recs)
    untraced_p50 = statistics.median(untraced)
    m["floor.share"] = m["floor.noop_s"] / untraced_p50
    m["tracing.overhead_frac"] = traced_p50 / untraced_p50 - 1
    # each traced call's build, Catalyst, action and artifact self times,
    # summed, over the wall time of the untraced call of the same op next to
    # it; the median over all traced calls (a few calls per op are too few
    # to judge one op on a shared host), and per op in the detail line
    ratios = [(r["op"], r["spans_s"] / r["untraced_s"]) for r in recs if r["untraced_s"]]
    m["tracing.span_cover_err"] = abs(statistics.median(x for _op, x in ratios) - 1)
    result["detail"]["span_cover_by_op"] = {
        op: round(statistics.median(x for o, x in ratios if o == op), 4)
        for op in sorted({op for op, _x in ratios})
    }
    result["detail"]["self_s_by_layer"] = {
        k: round(_mean(r["self"].get(k, 0.0) for r in recs), 4)
        for k in ("operators.build", "artifacts", "catalyst", "exec.action")
    }
