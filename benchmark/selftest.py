"""Self-test of the benchmark.

    python3 benchmark/selftest.py [--seconds N]   # N defaults to 12

Checks, in order, and exits non-zero on the first failure:

1. ``workloads.json`` is complete: every workload has its op list, pool
   rule, scale factor and reason, and matches BENCHMARK.json's workloads;
   every per-layer metric of BENCHMARK.json names the end-to-end metric and
   workloads it should move, and nothing else is listed.
2. The oracle check passes a correct output and flags a deliberately wrong
   one.
3. No ``relational`` op has a Python node in its plan or writes a file.
4. An untraced and a traced ``relational`` run print exactly the metric
   names of BENCHMARK.json; the traced one reads ``udf.python_rows == 0``
   and ``sinks.disk_write_mb == 0``, and the sum of a traced call's build,
   Catalyst, action and artifact self times is, in the median over traced
   calls, within 10% of the wall time of the untraced call next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

import run as bench
from tracing import files_written_since

_PYTHON_PLAN = re.compile(r"Python|InPandas|InArrow")


def check_spec() -> None:
    spec = bench.load_spec()
    with open(bench.BENCHMARK_JSON) as fh:
        declared = json.load(fh)
    e2e = {m["name"] for m in declared["end_to_end"]}
    names = [w["name"] for w in declared["workloads"]]
    assert sorted(names) == sorted(spec["workloads"]), (names, list(spec["workloads"]))
    for w in declared["workloads"]:
        entry = spec["workloads"][w["name"]]
        for key in ("ops", "pool_rule", "why", "sf"):
            assert entry.get(key), f"{w['name']}: missing {key}"
        assert entry["why"] == w["why"], f"{w['name']}: why differs from BENCHMARK.json"
        assert len(set(entry["ops"])) == len(entry["ops"]), f"{w['name']}: repeated op"
        assert set(entry.get("anchors", [])) <= set(entry["ops"]), f"{w['name']}: anchor not in ops"
    moves = spec["layer_metrics"]
    layer_names = {m["name"] for m in declared["per_layer"]}
    assert set(moves) == layer_names, sorted(set(moves) ^ layer_names)
    for name, m in moves.items():
        assert m.get("moves") and set(m["moves"]) <= e2e, f"{name}: moves {m.get('moves')!r}"
        assert m.get("workloads") and set(m["workloads"]) <= set(names), name
        assert m.get("layer"), name
    print("ok  spec: workloads and layer-metric mapping complete")


def check_oracle_and_pool() -> None:
    """Checks 2 and 3, in one Spark session of this process."""
    spec = bench.load_spec()
    ops = spec["workloads"]["relational"]["ops"]
    sf_dir = bench.sf_dir(spec["workloads"]["relational"]["sf"])
    run_dir = os.path.join(bench.WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = bench.private_env(run_dir)
    try:
        from dataengineeringutils_spark import paths
        from dataengineeringutils_spark.registry import queries

        paths._SCRATCH_ROOT = dirs["scratch"]
        qs = queries()
        spark = bench.start_session(dirs, trace=False)
        try:
            op = ops[0]
            good = qs[op](spark, sf_dir).toPandas()
            bad = good.copy()
            col = sorted(bad.columns)[-1]
            bad.loc[bad.index[0], col] = None if bad[col].dtype == object else -12345
            roots = [dirs["scratch"], dirs["warehouse"], dirs["checkpoints"]]
            offenders = {}
            for name in ops:
                df = qs[name](spark, sf_dir)
                plan = df._jdf.queryExecution().executedPlan().toString()
                if _PYTHON_PLAN.search(plan):
                    offenders[name] = "Python node in plan"
                t0_ns = time.time_ns()
                bench.noop(qs[name](spark, sf_dir))
                written = files_written_since(roots, t0_ns)
                if written:
                    offenders[name] = f"wrote {written[0][0]}"
        finally:
            bench.stop_session(spark)
        assert bench.oracle_check({op: good}, sf_dir) == {}, "correct output flagged"
        assert op in bench.oracle_check({op: bad}, sf_dir), "wrong output passed"
        print(f"ok  oracle: passes {op}'s output and flags a changed cell")
        assert not offenders, offenders
        print(f"ok  relational pool: {len(ops)} ops, no Python node, no writes")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run_once(workload: str, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(bench.HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=bench.ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{cmd} exited {out.returncode}:\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    return {"detail": json.loads(lines[-2])["detail"], **json.loads(lines[-1])}


def check_runs(seconds: float) -> None:
    units = bench.metric_units()
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        res = run_once("relational", seconds, trace)
        assert set(res) == {"detail", "correct", "attempted", "failed", "metrics"}, set(res)
        assert res["correct"] is True and res["failed"] == 0, res["detail"]
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == units[kind], sorted(set(got.items()) ^ set(units[kind].items()))
        print(f"ok  trace={trace}: metric names and units equal BENCHMARK.json {kind}")
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["udf.python_rows"] == 0, m["udf.python_rows"]
    assert m["sinks.disk_write_mb"] == 0, m["sinks.disk_write_mb"]
    assert m["tracing.span_cover_err"] <= 0.10, res["detail"]["span_cover_by_op"]
    print("ok  traced relational: udf.python_rows == 0, sinks.disk_write_mb == 0, "
          f"spans within {m['tracing.span_cover_err']:.3f} of untraced wall")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seconds", type=float, default=12)
    args = p.parse_args()
    bench.require_package()
    check_spec()
    check_oracle_and_pool()
    check_runs(args.seconds)
    print("selftest: all checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
