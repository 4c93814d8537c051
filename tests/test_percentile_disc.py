"""windows.grouped_percentile_disc on both sides of the TWO_PHASE_MIN_ROWS
switch against a plain-Python PERCENTILE_DISC, the small path's
one-sort plan, and the driver-side literal tables (tables.local_table)
that keep Python workers out of JVM-only plans.
"""

from __future__ import annotations

import math

import pytest

import dataengineeringutils_spark.operators.windows as W
from dataengineeringutils_spark.registry import queries
from dataengineeringutils_spark.tables import local_table

PS = [0.1, 0.5, 0.75, 1.0]

# (group, value): NULL values in a group, a NULL group key, a tie class
# (2.0 x3) spanning k = ceil(0.5 * 6) = 3 of group "a", a 1-row group
# and a group holding only NULL values
ROWS = [
    ("a", 3.0), ("a", 1.0), ("a", None), ("a", 2.0), ("a", 2.0),
    ("a", 2.0), ("a", 5.0), ("a", None),
    (None, 7.0), (None, 4.0),
    ("one", 9.0),
    ("nulls", None),
]


def _reference(rows, ps):
    """PERCENTILE_DISC from its definition: NULL values ignored, the
    ceil(p*n)-th smallest value of each group with a non-NULL value."""
    by: dict = {}
    for g, v in rows:
        if v is not None:
            by.setdefault(g, []).append(v)
    return sorted(
        ((g, p, sorted(vs)[math.ceil(p * len(vs)) - 1])
         for g, vs in by.items() for p in ps),
        key=repr,
    )


def _never_called():
    raise AssertionError("the small path must not build cuts")


@pytest.mark.parametrize("path", ["one_sort", "two_phase"])
def test_grouped_percentile_disc_edges(spark, monkeypatch, path):
    df = local_table(spark, ROWS, "g string, v double")
    if path == "one_sort":
        monkeypatch.setattr(W, "TWO_PHASE_MIN_ROWS", 10**12)
        cuts = _never_called
    else:
        monkeypatch.setattr(W, "TWO_PHASE_MIN_ROWS", 0)
        cuts = lambda: [1.5, 2.0, 4.0]  # noqa: E731 — 2.0 ties share a bucket
    out = W.grouped_percentile_disc(
        df, ["g"], "v", cuts, PS, n_rows=len(ROWS)
    )
    got = sorted(
        ((r["g"], r["p"], r["v"]) for r in out.collect()), key=repr
    )
    assert got == _reference(ROWS, PS)


PERCENTILE_OPS = [
    "agg_percentile_disc",
    "dq_outlier_iqr_fences",
    "events_value_qq_table",
    "dq_fanout_profile",
]

# ops that turn a driver-side list into a frame (tables.local_table)
LITERAL_TABLE_OPS = [
    "agg_weighted_median",
    "text_zipf_slope",
    "graph_kcore_2",
    "embeddings_power_iteration",
    "sim_mmr_diversify",
    "orders_skyline_2d",
    "scan_parquet_footer_stats",
    "scan_csv_malformed",
    "agg_count_min_sketch",
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _python_rdd_leaves(df) -> list[str]:
    """RDD lineage of each RDD-scan leaf that runs Python (the scan a
    ``createDataFrame(<python list>)`` plans). A ``localCheckpoint``
    also plans as an RDD scan, but its lineage is JVM-only."""
    out = []
    it = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
    while it.hasNext():
        leaf = it.next()
        if leaf.nodeName() == "LogicalRDD":
            lineage = leaf.rdd().toDebugString()
            if "PythonRDD" in lineage:
                out.append(lineage)
    return out


@pytest.mark.parametrize("name", PERCENTILE_OPS + LITERAL_TABLE_OPS)
def test_no_python_rdd_scan(spark, sf_dir, name):
    df = queries()[name](spark, sf_dir)
    plan = _plan(df)
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    assert not _python_rdd_leaves(df)


def test_no_python_rdd_scan_in_bucketed_running_sums(
    spark, sf_dir, monkeypatch
):
    # events_ks_two_sample reaches windows.bucketed_running_sums (its
    # driver-built offsets frame) only on the at-scale path, where its
    # collapsed frame is also a (JVM-only) localCheckpoint scan
    monkeypatch.setattr(W, "TWO_PHASE_MIN_ROWS", 0)
    df = queries()["events_ks_two_sample"](spark, sf_dir)
    assert "LocalTableScan" in _plan(df)
    assert not _python_rdd_leaves(df)


def test_small_path_is_one_keyed_sort(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(W, "TWO_PHASE_MIN_ROWS", 10**12)
    plan = _plan(queries()["agg_percentile_disc"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" not in plan, plan
    below = plan[plan.index("Window ["):]
    assert below.count("Exchange ") == 1, plan
    assert plan.count("Exchange ") == 1, plan


def test_local_table_keeps_nulls_and_plans_jvm_side(spark):
    from decimal import Decimal

    rows = [(0, None, Decimal("1.50"), "x"), (1, 5, None, None)]
    df = local_table(spark, rows, "k int, c bigint, d decimal(18,2), s string")
    assert "LocalTableScan" in _plan(df)
    assert [tuple(r) for r in df.orderBy("k").collect()] == rows
    assert df.dtypes == [
        ("k", "int"), ("c", "bigint"), ("d", "decimal(18,2)"), ("s", "string")
    ]
    assert local_table(spark, [], "k int").count() == 0
