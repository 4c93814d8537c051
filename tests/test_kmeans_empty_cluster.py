"""similarity.kmeans_lloyd when a cluster empties after iteration 0.

The seeds are the 4 smallest vec_ids. Two of them are equal, so the
distance tie breaks to the lower cluster id and cluster 1 gets no
member in iteration 0. Iteration 1 has no centroid for cluster 1; its
distance is NULL and must not win the argmin.
"""

from __future__ import annotations

import math

from dataengineeringutils_spark.operators.similarity import kmeans_lloyd
from dataengineeringutils_spark.tables import local_table

VECS = {0: [0.0], 1: [0.0], 2: [10.0], 3: [20.0], 4: [21.0]}


def _reference(vecs, k=4, iters=2):
    """Lloyd's algorithm as the op runs it: seeds = k smallest ids,
    argmin over the clusters that have a centroid (ties to the lower
    id), centroids rounded to 6 dp between iterations."""
    cent = {c: vecs[v] for c, v in enumerate(sorted(vecs)[:k])}
    for it in range(iters):
        assign = {}
        for v, x in vecs.items():
            dists = {
                c: sum((a - b) ** 2 for a, b in zip(x, cx))
                for c, cx in cent.items()
            }
            assign[v] = min(dists, key=lambda c: (dists[c], c)), min(
                dists.values()
            )
        if it < iters - 1:
            members: dict = {}
            for v, (c, _) in assign.items():
                members.setdefault(c, []).append(vecs[v])
            cent = {
                c: [round(sum(col) / len(col), 6) for col in zip(*xs)]
                for c, xs in members.items()
            }
    out: dict = {}
    for c, d in assign.values():
        out.setdefault(c, []).append(math.sqrt(d))
    return sorted(
        (c, len(ds), round(sum(ds) / len(ds), 4)) for c, ds in out.items()
    )


def test_empty_cluster_never_wins_argmin(spark):
    e = local_table(
        spark, sorted(VECS.items()), "vec_id bigint, embedding array<float>"
    )
    got = [tuple(r) for r in kmeans_lloyd(e).collect()]
    assert got == _reference(VECS)
    assert 1 not in [c for c, _, _ in got]
    assert all(d is not None for _, _, d in got)
