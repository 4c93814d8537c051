"""Benchmark: a single-client closed loop over one workload's fixed op list.

Usage, from the root of a checkout::

    python3 benchmark/run.py --workload relational --seed 1 --seconds 12 --trace 0

One Python process drives Spark ``local[nproc]`` (BLAS capped at one thread
per worker) with serial calls of ``queries()[op](spark, sf_dir)``, each
followed by a ``noop`` sink write. The workload's op list is fixed
(``workloads.json``); ``--seed`` only shuffles the order of every round.

A run:

1. finds the workload's scale-factor tables (``sf_dir``);
2. points every location the engine and Spark write to into the run's own
   directory, then imports the registry and starts Spark;
3. calls every op once and collects its output for the oracle check, then
   warms up in whole rounds until the round totals stop falling;
4. times ``round(seconds / ROUND_S)`` whole rounds, about ``--seconds``
   (``timed_rounds``, ``Loop.timed_phase``);
5. compares every collected output with its DuckDB oracle
   (``tools/verify_local.py`` rules), stops Spark and waits for the JVM and
   its Python workers to exit.

A failed call is counted in ``failed`` and never retried. ``--trace 1``
alternates untraced and traced calls of each op and reports the per-layer
metrics (``tracing.py``) instead of the end-to-end ones.

Standard output ends with a ``detail`` line (warm-up length, tail percentile
and sample count, per-op medians, oracle results) and then the result line
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SPEC_PATH = os.path.join(HERE, "workloads.json")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from tracing import cpu_ticks, descendants  # noqa: E402

# Warm-up (after the collecting round) ends once a round's total is no more
# than STEADY below the previous round's (the totals stopped falling), after
# at least MIN_WARM rounds; it also ends at the first round boundary past
# MAX_WARM_S seconds, which bounds the set-up of a run (a longer cap made
# runs too long for the run budget without making them steadier).
MIN_WARM = 2
MAX_WARM_S = 8.0
STEADY = 0.03
# no timed round is started that would end past OVERRUN times --seconds
OVERRUN = 1.5
# nominal seconds of one round of either workload's five ops: sets the
# number of timed rounds for a given --seconds
ROUND_S = 2.4
# where the scale-factor tables are: ``<DATA_ROOT>/sf<scale>``, unless
# SPARK_GRAFT_SF_DIR names the directory (as for bench.py)
DATA_ROOT = "/root/testdata"


def load_spec() -> dict:
    with open(SPEC_PATH) as fh:
        return json.load(fh)


def metric_units() -> dict[str, dict[str, str]]:
    """``{"end_to_end"|"per_layer": {name: unit}}`` from BENCHMARK.json."""
    with open(BENCHMARK_JSON) as fh:
        bench = json.load(fh)
    return {k: {m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer")}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def process_start() -> float:
    """Wall-clock time this process started (from /proc, in clock ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def sf_dir(sf: float) -> str:
    """The directory of the ten tables at scale factor ``sf``. Its name must
    be ``sf<scale>``: ``tables._tune_for_scale`` reads the scale from it."""
    path = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(DATA_ROOT, f"sf{sf:g}")
    if os.path.basename(path.rstrip("/")) != f"sf{sf:g}":
        raise SystemExit(f"benchmark: {path} is not a sf{sf:g} directory")
    missing = [t for t in TABLES if not os.path.isfile(os.path.join(path, f"{t}.parquet"))]
    if missing:
        raise SystemExit(f"benchmark: {path} lacks {missing}")
    return path


def require_package() -> None:
    """Fail fast where the benchmark's directory stands alone."""
    for rel in ("dataengineeringutils_spark/registry.py", "tools/verify_local.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise SystemExit(f"benchmark: {rel} not found under {ROOT}")


def private_env(run_dir: str) -> dict[str, str]:
    """Point every writable location of the engine and of Spark into the
    run's own directory. Must run before pyspark or the package is
    imported: both read these at import or JVM launch."""
    dirs = {
        k: os.path.join(run_dir, k)
        for k in ("artifacts", "checkpoints", "local", "scratch", "tmp",
                  "warehouse", "eventlog")
    }
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_ARTIFACT_ROOT=dirs["artifacts"],
        SPARK_GRAFT_CHECKPOINT_ROOT=dirs["checkpoints"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        TMPDIR=dirs["tmp"],
        # the JVMs would otherwise keep their perf-counter files in /tmp
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    return dirs


def start_session(dirs: dict[str, str], trace: bool):
    from pyspark.sql import SparkSession

    from dataengineeringutils_spark.session import session_conf

    conf = session_conf(on_cluster=False)
    conf.update({
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.local.dir": dirs["local"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        # the engine's 90g is sized for a dedicated host; the sf0.1 tables
        # are 17 MB and this host's memory is shared
        "spark.driver.memory": "4g",
    })
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
        })
    builder = SparkSession.builder.appName("benchmark").master(
        f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and the Python workers it forked, and wait
    until every one of them has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    children = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def load_verify():
    """``tools/verify_local.py`` as a module: the oracle check uses its
    ``duck_connect`` and ``compare``."""
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(ROOT, "tools", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(outputs: dict, sf_dir: str) -> dict[str, str]:
    """``{op: issue}`` for every collected output that differs from its
    DuckDB oracle under ``tools/verify_local.py``'s ``compare`` rules, or
    whose oracle is missing or fails."""
    from dataengineeringutils_spark.registry import oracle_sql

    vl = load_verify()
    oracles = oracle_sql()
    con = vl.duck_connect(sf_dir)
    issues = {}
    try:
        for op, pdf in outputs.items():
            if op not in oracles:
                issues[op] = "no oracle"
                continue
            try:
                duck = con.execute(oracles[op]).fetchdf()
            except Exception as exc:  # noqa: BLE001 -- recorded per op
                issues[op] = f"oracle error: {exc}"[:300]
                continue
            found, _flags = vl.compare(op, pdf, duck)
            if found:
                issues[op] = " | ".join(found)[:300]
    finally:
        con.close()
    return issues


def tail(times: list[float], planned: int) -> tuple[float, float]:
    """``(quantile, value)``: the highest quantile of ``planned`` calls with
    at least ten calls beyond it, and its value over ``times``
    (``statistics.quantiles``, inclusive method). The quantile depends on
    the planned call count only, so it stays the same in a run whose timed
    phase was cut short; with ten or fewer calls it is the largest call."""
    if planned <= 10 or len(times) < 2:
        return 1.0, max(times)
    cuts = statistics.quantiles(times, n=planned, method="inclusive")
    return (planned - 10) / planned, cuts[planned - 11]


@dataclass
class Round:
    total: float
    calls: list[tuple[str, float]]
    steal: float


class Loop:
    """The closed loop of one run: every call goes through ``call``, which
    counts it and records (never retries) a failure."""

    def __init__(self, spark, qs, sf_dir: str, workload: dict, seed: int):
        self.spark = spark
        self.qs = qs
        self.sf_dir = sf_dir
        self.workload = workload
        self.ops = workload["ops"]
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}

    def order(self) -> list[str]:
        ops = list(self.ops)
        self.rng.shuffle(ops)
        return ops

    def call(self, op: str, action=noop) -> tuple[float | None, object]:
        """Wall seconds and result of ``action(queries()[op](spark, sf))``;
        ``(None, None)`` if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = action(self.qs[op](self.spark, self.sf_dir))
        except Exception:  # noqa: BLE001 -- counted, recorded, not retried
            self.failed += 1
            self.errors.setdefault(op, traceback.format_exc(limit=3)[-600:])
            return None, None
        return time.perf_counter() - t0, out

    def collect_round(self) -> tuple[dict, dict[str, float]]:
        """One round that collects every op's output for the oracle check;
        also returns each op's wall seconds."""
        outputs, secs = {}, {}
        for op in self.order():
            dt, pdf = self.call(op, lambda df: df.toPandas())
            if pdf is not None:
                outputs[op] = pdf
                secs[op] = round(dt, 3)
        return outputs, secs

    def noop_round(self) -> tuple[float, list[tuple[str, float]]]:
        t0 = time.perf_counter()
        calls = []
        for op in self.order():
            dt, _ = self.call(op)
            if dt is not None:
                calls.append((op, dt))
        return time.perf_counter() - t0, calls

    def timed_phase(self, rounds: int, seconds: float) -> list[Round]:
        """Up to ``rounds`` timed rounds, each with the share of the host's
        CPU time the hypervisor stole while it ran. A round that would end
        past OVERRUN times ``seconds`` (judged by the previous round) is not
        started, which bounds a run on a host slowed down by its neighbours."""
        out: list[Round] = []
        t0 = time.perf_counter()
        while len(out) < rounds:
            if out and time.perf_counter() - t0 + out[-1].total > OVERRUN * seconds:
                break
            steal0, ticks0 = cpu_ticks()
            total, calls = self.noop_round()
            steal1, ticks1 = cpu_ticks()
            out.append(Round(total, calls, (steal1 - steal0) / max(1, ticks1 - ticks0)))
        return out

    def warm_up(self) -> list[float]:
        """Noop rounds until the round totals stop falling; returns them."""
        totals: list[float] = []
        while True:
            totals.append(self.noop_round()[0])
            if len(totals) < MIN_WARM:
                continue
            if totals[-1] >= (1 - STEADY) * totals[-2] or sum(totals) >= MAX_WARM_S:
                return totals


def timed_rounds(seconds: float) -> int:
    """Whole rounds that take about ``seconds`` at the nominal round time.
    The count depends on ``seconds`` alone, so every run of a workload
    plans the same calls."""
    return max(1, round(seconds / ROUND_S))


def per_op_medians(calls: list[tuple[str, float]]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for op, dt in calls:
        by.setdefault(op, []).append(dt)
    return {op: round(statistics.median(v), 4) for op, v in sorted(by.items())}


def run(args, spec: dict, sf_dir: str, run_dir: str, t_start: float):
    """One run; ``t_start`` is the process start time."""
    workload = spec["workloads"][args.workload]
    ops = workload["ops"]
    trace = bool(args.trace)
    dirs = private_env(run_dir)
    layers: dict[str, float] = {}
    t0 = time.perf_counter()
    from dataengineeringutils_spark.blas import cap_blas_env

    cap_blas_env(1, force=True)
    from dataengineeringutils_spark import paths
    from dataengineeringutils_spark.registry import queries

    paths._SCRATCH_ROOT = dirs["scratch"]
    qs = queries()
    layers["registry.load_s"] = time.perf_counter() - t0
    missing = [op for op in ops if op not in qs]
    if missing:
        raise SystemExit(f"benchmark: unknown ops {missing}")
    t0 = time.perf_counter()
    spark = start_session(dirs, trace)
    layers["session.start_s"] = time.perf_counter() - t0
    try:
        loop = Loop(spark, qs, sf_dir, workload, args.seed)
        if trace:
            import traced

            result = traced.run(loop, args, dirs, layers)
        else:
            result = _untraced(loop, args, t_start)
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        stop_s = time.perf_counter() - t0
    outputs = result.pop("outputs")
    detail = result["detail"]
    detail["output_rows"] = {op: len(pdf) for op, pdf in sorted(outputs.items())}
    t0 = time.perf_counter()
    detail["oracle"] = oracle_check(outputs, sf_dir)
    detail["stop_s"] = round(stop_s, 3)
    detail["oracle_s"] = round(time.perf_counter() - t0, 3)
    detail["errors"] = loop.errors
    result.update(attempted=loop.attempted, failed=loop.failed)
    if trace:
        traced.finish(result, dirs)
    return result


def _untraced(loop: Loop, args, t_start: float) -> dict:
    outputs, collect_s = loop.collect_round()
    warm = loop.warm_up()
    setup_s = time.time() - t_start
    planned = timed_rounds(args.seconds)
    rounds = loop.timed_phase(planned, args.seconds)
    calls = [c for r in rounds for c in r.calls]
    timed_s = sum(r.total for r in rounds)
    times = [dt for _op, dt in calls]
    if not times:
        raise RuntimeError(f"no timed call succeeded: {loop.errors}")
    tail_q, tail_s = tail(times, planned * len(loop.ops))
    return {
        "outputs": outputs,
        "metrics": {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(times),
            "op_tail_s": tail_s,
            "ops_per_s": len(times) / timed_s,
        },
        "detail": {
            "collect_s": collect_s,
            "warmup_rounds": len(warm),
            "warmup_round_s": [round(t, 3) for t in warm],
            "timed_rounds": len(rounds),
            "planned_rounds": planned,
            "cut_short": len(rounds) < planned,
            "timed_calls": len(times),
            "timed_s": round(timed_s, 3),
            "tail_percentile": round(100 * tail_q, 2),
            "timed_round_s": [round(r.total, 3) for r in rounds],
            "round_steal": [round(r.steal, 4) for r in rounds],
            "per_op_p50_s": per_op_medians(calls),
        },
    }


def sweep_runs() -> None:
    """Remove the directories of earlier runs that were killed before they
    could remove their own (a live run's directory is left alone)."""
    runs = os.path.join(WORK, "runs")
    for e in os.listdir(runs) if os.path.isdir(runs) else []:
        if not e.isdigit() or os.path.exists(f"/proc/{e}"):
            continue
        shutil.rmtree(os.path.join(runs, e), ignore_errors=True)


def main(argv=None) -> int:
    args = _parse(argv)
    t_start = process_start()
    spec = load_spec()
    if args.workload not in spec["workloads"]:
        raise SystemExit(f"benchmark: unknown workload {args.workload!r}")
    require_package()
    data = sf_dir(spec["workloads"][args.workload]["sf"])
    sweep_runs()
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    try:
        result = run(args, spec, data, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    units = metric_units()[kind]
    metrics = result["metrics"]
    if set(metrics) != set(units):
        raise SystemExit(
            f"benchmark: metrics {sorted(metrics)} != BENCHMARK.json {sorted(units)}"
        )
    detail = result["detail"]
    detail.update(workload=args.workload, seed=args.seed, trace=args.trace, sf_dir=data)
    correct = result["failed"] == 0 and not detail["oracle"]
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
