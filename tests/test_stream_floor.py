"""The two streaming ops above the 2.0 s bench line stay floor-bound.

Their cost is dominated by the FRESH-QUERY machinery every Structured
Streaming availableNow run pays (query planning, checkpoint+offset-log
setup, stream thread start/stop, micro-batch commit), NOT by their own
plans. STREAM_FLOOR.json records that floor per class, measured by
``tools/stream_floor.py``; this test asserts each op's best-of-3 within
a bounded overhead of the COMMITTED floor of its class, and that one
more micro-batch of a long-lived stream costs less than that floor. It
never writes the file: refresh it with
``python tools/stream_floor.py --out STREAM_FLOOR.json --sf-dir DIR``.

On a long-lived production stream this per-query cost amortizes to
zero: the floor is paid once at deployment, not per micro-batch
(ARCHITECTURE.md "Streaming fixed costs").
"""

from __future__ import annotations

import json
import os

from tools.stream_floor import (
    ADD_BOUND_S,
    FLOOR_OF,
    MULT_BOUND,
    measure_marginals,
    op_best_times,
    within_bound,
)

COMMITTED = os.path.join(
    os.path.dirname(__file__), "..", "STREAM_FLOOR.json"
)


def _committed() -> dict:
    with open(COMMITTED) as f:
        return json.load(f)


def test_streaming_ops_are_floor_bound(spark, sf_dir):
    report = _committed()
    assert report["bounds"] == {"mult": MULT_BOUND, "add_sec": ADD_BOUND_S}
    floors = report["floors_sec"]
    for name, best in op_best_times(spark, sf_dir).items():
        floor = floors[FLOOR_OF[name]]
        assert within_bound(best, floor), (
            f"{name}: {best:.2f}s exceeds its {FLOOR_OF[name]} floor bound "
            f"(committed floor {floor:.2f}s x{MULT_BOUND} / +{ADD_BOUND_S}s)"
            " — its own plan got more expensive, not just the machinery"
        )
    # Amortization is asserted for the two floor-EXCEPTED classes (the
    # ones whose fresh-query setup dominates their bench line): each
    # additional micro-batch must cost strictly less than starting a
    # fresh query. The jvm class's floor already ≈ one micro-batch, so
    # there is nothing to amortize — recorded, not asserted.
    marginals = measure_marginals(spark)
    for cls in ("python_source", "stateful_join"):
        marginal = marginals[f"{cls}_marginal_batch_sec"]
        assert marginal < floors[cls], (
            f"{cls}: marginal per-batch cost {marginal:.2f}s is not below "
            f"its committed fresh-query floor {floors[cls]:.2f}s — the "
            "floor does not amortize"
        )
