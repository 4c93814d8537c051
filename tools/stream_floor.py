"""Streaming floor measurement for the two streaming ops above the 2.0 s
bench line (stream_python_queue_source, stream_outer_join_watermark).

Their cost is dominated by the FRESH-QUERY machinery every Structured
Streaming availableNow run pays (query planning, checkpoint+offset-log
setup, stream thread start/stop, micro-batch commit), not by their own
plans. This tool measures that shared floor per class with minimal
streaming queries in one session, times each op against it, measures
the marginal per-batch cost of one long stream per class, and writes
the report (the format of STREAM_FLOOR.json) to the path it is given.
``tests/test_stream_floor.py`` asserts the ops against the committed
floors; refresh the committed file with this tool, not with the test.

Usage: python tools/stream_floor.py --out PATH --sf-dir DIR
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dataengineeringutils_spark.paths import (  # noqa: E402
    ram_scratch_dir,
    scratch_dir,
)
from dataengineeringutils_spark.registry import queries  # noqa: E402

_ctr = itertools.count()

# op best-of-3 must stay within BOTH bounds of its floor:
# a multiplicative one (the op is "a small constant factor over the
# machinery") and an additive cap on its own plan's contribution.
MULT_BOUND = 3.0
ADD_BOUND_S = 2.0


def floor_probe(spark) -> float:
    """One fresh minimal streaming query: 1-row parquet file source ->
    trivial select -> memory sink, availableNow. Everything it does is
    also done by every streaming op; nothing in it is op-specific."""
    src = scratch_dir("floor_src")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        spark.range(1).coalesce(1).write.mode("overwrite").parquet(src)
    name = f"floor_sink_{next(_ctr)}"
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema("id long")
        .parquet(src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ram_scratch_dir(f"ck_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return time.perf_counter() - t0


def py_floor_probe(spark) -> float:
    """One fresh minimal PYTHON-DataSource streaming query: the SAME
    QueueDataSource the queue op uses, on a 1-message 1-partition queue.
    Its cost is the Python stream-source protocol itself — datasource
    registration, driver-side offset RPC, one executor Python worker —
    with effectively zero data."""
    import dataengineeringutils_spark.sources.python_stream_source as pss

    base = scratch_dir("floor_pysrc")
    seg = os.path.join(base, "p=0")
    if not os.path.exists(seg):
        os.makedirs(seg, exist_ok=True)
        with open(os.path.join(seg, "00000000.json"), "w") as f:
            f.write('{"event_id": 1, "event_type": "a", "value": 1.0}\n')
    spark.dataSource.register(pss.QueueDataSource)
    name = f"floor_pysink_{next(_ctr)}"
    t0 = time.perf_counter()
    q = (
        spark.readStream.format("file_queue")
        .option("path", base)
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ram_scratch_dir(f"ck_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return time.perf_counter() - t0


def stateful_floor_probe(spark) -> float:
    """One fresh minimal STATEFUL streaming query: two 1-row parquet
    sources, watermarks, left-outer stream-stream join, append sink.
    Its cost is the stateful machinery the outer-join op cannot avoid —
    state-store instances (4 per partition per side), per-batch state
    commits, and the mandatory second micro-batch in which the
    watermark advances and unmatched rows are evicted — with
    effectively zero data."""
    from pyspark.sql import functions as F

    src = scratch_dir("floor_state_src")
    if not os.path.exists(os.path.join(src, "a", "_SUCCESS")):
        df = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00")], "id long, ts_s string"
        ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "a"))
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b"))
    name = f"floor_state_{next(_ctr)}"
    a = (
        spark.readStream.schema("id long, ts timestamp")
        .parquet(os.path.join(src, "a"))
        .withWatermark("ts", "1 hour")
    )
    b = (
        spark.readStream.schema("id long, ts timestamp")
        .parquet(os.path.join(src, "b"))
        .withWatermark("ts", "1 hour")
        .select(F.col("id").alias("b_id"), F.col("ts").alias("b_ts"))
    )
    joined = a.join(
        b,
        (F.col("id") == F.col("b_id"))
        & (F.col("b_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("b_ts") <= F.col("ts")),
        "left_outer",
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    t0 = time.perf_counter()
    try:
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ram_scratch_dir(f"ck_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return time.perf_counter() - t0


# which floor each op is bounded against: the queue op pays the Python
# DataSource protocol by construction; the outer join pays the stateful
# join + watermark-eviction machinery
FLOOR_OF = {
    "stream_python_queue_source": "python_source",
    "stream_outer_join_watermark": "stateful_join",
}

PROBES = {
    "jvm": floor_probe,
    "python_source": py_floor_probe,
    "stateful_join": stateful_floor_probe,
}


def _timed(fn, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).count()
    return time.perf_counter() - t0


def op_best_times(spark, sf_dir: str, rounds: int = 3) -> dict[str, float]:
    """Best-of-``rounds`` wall time of each FLOOR_OF op, after one
    untimed warm call each (cached fixtures, JIT)."""
    qs = queries()
    for name in FLOOR_OF:
        qs[name](spark, sf_dir).count()
    times = {n: [_timed(qs[n], spark, sf_dir) for _ in range(rounds)]
             for n in FLOOR_OF}
    return {n: min(v) for n, v in times.items()}


def measure(spark, sf_dir: str) -> dict:
    """The full report: floors and ops as interleaved best-of-3 (a
    host-load burst hits at most one round, and hits floor and op runs
    alike), each op's overhead over its floor, and the amortization
    probes."""
    qs = queries()
    for name in FLOOR_OF:
        qs[name](spark, sf_dir).count()
    for probe in PROBES.values():
        probe(spark)
    floor_times: dict[str, list[float]] = {k: [] for k in PROBES}
    op_times: dict[str, list[float]] = {n: [] for n in FLOOR_OF}
    for _ in range(3):
        for k, probe in PROBES.items():
            floor_times[k].append(probe(spark))
        for name in FLOOR_OF:
            op_times[name].append(_timed(qs[name], spark, sf_dir))
    floors = {k: min(v) for k, v in floor_times.items()}
    report = {
        "floors_sec": {k: round(v, 4) for k, v in floors.items()},
        "bounds": {"mult": MULT_BOUND, "add_sec": ADD_BOUND_S},
        "ops": {},
    }
    for name, times in op_times.items():
        best, floor = min(times), floors[FLOOR_OF[name]]
        report["ops"][name] = {
            "best_sec": round(best, 4),
            "floor": FLOOR_OF[name],
            "overhead_sec": round(best - floor, 4),
        }
    report["amortization"] = measure_marginals(spark)
    commit = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=10,
    ).stdout.strip()
    report["provenance"] = {
        "source": "tools/stream_floor.py",
        "commit": commit or None,
    }
    return report


def within_bound(best: float, floor: float) -> bool:
    return best <= max(MULT_BOUND * floor, floor + ADD_BOUND_S)


N_AMORT_BATCHES = 10


def _marginal(progress) -> tuple[list[float], float]:
    ds = [
        p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in progress
    ]
    return ds, (statistics.median(ds[1:]) if len(ds) > 1 else float("nan"))


def measure_marginals(spark) -> dict:
    """Amortization probes (round-7 VERDICT #5): run ONE long stream of
    N_AMORT_BATCHES micro-batches per floor class and record the
    MARGINAL per-batch cost (median triggerExecution of batches 2..N).
    Turns "the floor amortizes on a long-lived stream" from prose into
    an artifact: the floor is paid once per QUERY, each additional
    micro-batch costs a fraction of it."""
    from pyspark.sql import functions as F

    import dataengineeringutils_spark.sources.python_stream_source as pss

    ctr = itertools.count()
    out: dict = {"n_batches": N_AMORT_BATCHES}

    # jvm: N one-row parquet files, maxFilesPerTrigger=1, availableNow
    src = scratch_dir("amort_jvm")
    for i in range(N_AMORT_BATCHES):
        spark.range(1).coalesce(1).write.mode("overwrite").parquet(
            f"{src}/f={i}"
        )
    name = f"amort_{next(ctr)}"
    q = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ram_scratch_dir(f"ck_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _, out["jvm_marginal_batch_sec"] = _marginal(q.recentProgress)

    # python_source: rate-limited queue (max_segments_per_batch=1 — the
    # Kafka maxOffsetsPerTrigger analogue) on a processingTime(0)
    # trigger; availableNow snapshots the first offset and would stop
    # after one batch for a Python source, so the long-lived-stream
    # shape is the honest probe here anyway.
    base = scratch_dir("amort_q")
    seg = os.path.join(base, "p=0")
    os.makedirs(seg, exist_ok=True)
    for i in range(N_AMORT_BATCHES):
        with open(os.path.join(seg, f"{i:08d}.json"), "w") as f:
            f.write(f'{{"event_id": {i}, "event_type": "a", "value": 1.0}}\n')
    spark.dataSource.register(pss.QueueDataSource)
    name = f"amort_{next(ctr)}"
    q = (
        spark.readStream.format("file_queue")
        .option("path", base)
        .option("max_segments_per_batch", "1")
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ram_scratch_dir(f"ck_{name}"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    t0 = time.time()
    while (
        spark.table(name).count() < N_AMORT_BATCHES and time.time() - t0 < 120
    ):
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    _, out["python_source_marginal_batch_sec"] = _marginal(q.recentProgress)

    # stateful_join: two file sources advancing one file per batch
    # through a watermarked left-outer stream-stream join — marginal
    # includes the per-batch state-store commits and eviction work.
    src = scratch_dir("amort_state")
    for i in range(N_AMORT_BATCHES):
        df = spark.createDataFrame(
            [(i, f"2024-01-01 {i:02d}:00:00")], "id long, ts_s string"
        ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/a/f={i}")
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/b/f={i}")
    a = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/a/f=*")
        .withWatermark("ts", "1 hour")
    )
    b = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b/f=*")
        .withWatermark("ts", "1 hour")
        .select(F.col("id").alias("b_id"), F.col("ts").alias("b_ts"))
    )
    joined = a.join(
        b,
        (F.col("id") == F.col("b_id"))
        & (F.col("b_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("b_ts") <= F.col("ts")),
        "left_outer",
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    name = f"amort_{next(ctr)}"
    try:
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ram_scratch_dir(f"ck_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    _, out["stateful_join_marginal_batch_sec"] = _marginal(q.recentProgress)

    for cls in ("jvm", "python_source", "stateful_join"):
        out[f"{cls}_marginal_batch_sec"] = round(
            out[f"{cls}_marginal_batch_sec"], 4
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="report path to write")
    ap.add_argument(
        "--sf-dir", required=True, help="fixture dir (the suite's TEST_SF_DIR)"
    )
    args = ap.parse_args()
    from dataengineeringutils_spark.session import get_spark

    report = measure(get_spark("stream_floor"), args.sf_dir)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps(report["floors_sec"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
