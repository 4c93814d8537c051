"""Graph-traversal operators: iterative expansion over tabular edges.

Spark has no recursive CTE; bounded traversals are expressed as
ITERATIVE DataFrame rounds with lineage cuts (the same harness as
``dedup_connected_components``). The key scale trick here is POINTER
DOUBLING: each round jumps every node to its ancestor's ancestor, so a
depth-d hierarchy resolves in ceil(log2 d) shuffle rounds, not d —
at 100 TB the difference between 4 rounds and 40.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineeringutils_spark.registry import query
from dataengineeringutils_spark.tables import local_table, table

DOUBLING_ROUNDS = 4  # resolves hierarchies up to depth 2^4


@query(
    "hierarchy_depth_doubling",
    oracle="""
    WITH RECURSIVE walk(start, cur, d) AS (
        SELECT c_custkey, c_custkey, 0 FROM customer
        UNION ALL
        SELECT start, cur // 10, d + 1 FROM walk WHERE cur > 0
    )
    SELECT CAST(depth AS INT) AS depth, COUNT(*) AS n_nodes
    FROM (
        SELECT start, MAX(CASE WHEN cur = 0 THEN d END) AS depth
        FROM walk GROUP BY start
    )
    GROUP BY 1
    """,
)
def hierarchy_depth_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ancestor-chain depth for every node of a parent hierarchy
    (parent(k) = k div 10 over customer keys — a synthetic but fully
    deterministic org-chart/BOM stand-in), resolved by pointer doubling.

    Each node starts pointing at its parent with distance 1; every round
    joins the pointer table WITH ITSELF so a node's pointer jumps to its
    ancestor's ancestor and the distances add. Nodes whose pointer hit
    the root (0) stop moving. After ceil(log2 max_depth) rounds every
    node knows its exact depth — the textbook O(log d) alternative to
    d single-step rounds, with an eager lineage cut per round (without
    it the self-join plan doubles every iteration). The oracle walks the
    same chains with a recursive CTE.
    """
    c = table(spark, sf_dir, "customer")
    f = c.select(
        F.col("c_custkey").alias("node"),
        F.expr("c_custkey div 10").alias("anc"),
        # the root (key 0) is at depth 0; everyone else starts one step up
        F.when(F.col("c_custkey") == 0, F.lit(0)).otherwise(F.lit(1)).alias("d"),
    ).localCheckpoint(eager=True)
    for _ in range(DOUBLING_ROUNDS):
        g = f.select(
            F.col("node").alias("g_node"),
            F.col("anc").alias("g_anc"),
            F.col("d").alias("g_d"),
        )
        f = (
            f.join(g, f.anc == g.g_node, "left")
            .select(
                "node",
                F.when(F.col("anc") == 0, F.lit(0))
                .otherwise(F.coalesce("g_anc", "anc"))
                .alias("anc"),
                F.when(F.col("anc") == 0, F.col("d"))
                .otherwise(F.col("d") + F.coalesce("g_d", F.lit(0)))
                .alias("d"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        f.groupBy(F.col("d").cast("int").alias("depth"))
        .agg(F.count("*").alias("n_nodes"))
    )


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted co-purchase EDGE TABLE (a, b): part pairs appearing
    together in ≥ 2 distinct orders, canonical a < b.

    The graph is a deterministic derived artifact of the fixture — the
    same discipline as the shingle table and the near-dup pair table: a
    production pipeline materializes the edge list next to the data and
    every graph query (triangles, components, communities) consumes it,
    instead of re-mining 100 TB of baskets per query.

    Build shape: in-basket pair generation (one shuffle builds each
    order's sorted distinct part set, pairs are generated INSIDE the
    array — no (o,p) self-join, line-level duplicates can't inflate
    support), then one pair-count shuffle. Eager localCheckpoint cuts
    the lineage so the four downstream self-joins of the triangle op
    read the materialized table.
    """
    from dataengineeringutils_spark.artifacts import df_artifact

    def _build():
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        baskets = li.groupBy("l_orderkey").agg(
            F.array_sort(F.collect_set("l_partkey")).alias("ps")
        )
        ids = F.col("ps")
        pair_structs = F.flatten(
            F.transform(
                ids,
                lambda x, i: F.transform(
                    F.slice(ids, i + 2, F.size(ids)),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
        return (
            baskets.select(F.explode(pair_structs).alias("p"))
            .select("p.*")
            .groupBy("a", "b")
            .agg(F.count("*").alias("support"))
            .filter(F.col("support") >= 2)
            .select("a", "b")
        )

    return df_artifact(spark, sf_dir, "graph_copurchase_edges", _build)


@query(
    "graph_triangle_count",
    oracle="""
    WITH pp AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT a.p AS a, b.p AS b
        FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING COUNT(*) >= 2
    ),
    nodes AS (SELECT a AS n FROM edges UNION SELECT b FROM edges)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes)  AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges)  AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM edges e1
            JOIN edges e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B216: triangle count over the part co-purchase graph (edge = two
    parts appearing together in ≥ 2 distinct orders) — the clustering/
    community-density primitive.

    Scale shape: the classic hub problem is that wedge generation around
    a degree-d node emits d² candidates; ORIENTING every edge from its
    lower-(degree, id) endpoint to the higher one caps every out-degree
    at O(√m), so the wedge self-join is skew-proof — the standard
    MapReduce/GraphX triangle algorithm, expressed as three DataFrame
    equi-joins Catalyst can reorder/broadcast. Orientation changes
    nothing semantically (each triangle has exactly one source node in
    the orientation order), so the a<b<c oracle counts the same set.
    """
    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionAll(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
        # |V|-row frame with THREE consumers (two orientation broadcasts
        # + the stats row): lazily checkpoint so the edge-table degree
        # count runs once per call, not three times
        .localCheckpoint(eager=False)
    )
    # deg is |V|-sized — broadcast it into the orientation joins so the
    # edge table is never exchanged (at 100 TB deg would be the one
    # pre-shuffled side; the EDGE table still only streams).
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("deg_b"))
    keyed = edges.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    fwd = F.struct("deg_a", "a") < F.struct("deg_b", "b")
    oriented = keyed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    w1 = oriented.alias("w1")
    w2 = oriented.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src")) & (F.col("w1.dst") < F.col("w2.dst")),
    ).select(
        F.least("w1.dst", "w2.dst").alias("a"),
        F.greatest("w1.dst", "w2.dst").alias("b"),
    )
    closed = wedges.join(edges, ["a", "b"])
    # node and edge counts both fall out of the degree frame (sum of
    # degrees = 2m) — no extra passes over edges
    stats = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.expr("sum(deg) div 2").cast("bigint").alias("n_edges"),
    )
    n_tri = closed.agg(F.count("*").cast("bigint").alias("n_triangles"))
    return stats.crossJoin(n_tri)


PR_ITERS = 3  # fixed so the oracle can unroll the recursion as CTEs


def _pagerank_oracle(iters: int = PR_ITERS) -> str:
    """Unrolled-CTE replica of the damped PageRank below, over the same
    co-purchase edge definition the triangle oracle uses. Generated by a
    loop so the iteration count stays one constant shared with Spark."""
    parts = [
        """
    WITH pp AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT a.p AS a, b.p AS b
        FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING COUNT(*) >= 2
    ),
    und AS (SELECT a AS s, b AS t FROM edges
            UNION ALL SELECT b, a FROM edges),
    deg AS (SELECT s, COUNT(*) AS deg FROM und GROUP BY s),
    pr0 AS (SELECT s AS n, CAST(1.0 AS DOUBLE) AS pr FROM deg)"""
    ]
    for k in range(1, iters + 1):
        parts.append(f"""
    , pr{k} AS (
        SELECT u.t AS n,
               ROUND(0.15 + 0.85 *
                     (CAST(SUM(CAST(FLOOR(p.pr / d.deg * 1e12) AS BIGINT))
                           AS DOUBLE) / 1e12), 9) AS pr
        FROM und u
        JOIN pr{k - 1} p ON u.s = p.n
        JOIN deg d ON u.s = d.s
        GROUP BY u.t)""")
    parts.append(f"""
    SELECT n AS part_id, pr AS pagerank
    FROM pr{iters}
    ORDER BY pr DESC, n ASC
    LIMIT 10""")
    return "".join(parts)


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d = 0.85, 3 fixed rounds) over the co-purchase
    part graph; top-10 parts by rank — the canonical iterative graph
    centrality, expressed as the GraphX/Pregel dataflow in DataFrame
    ops: scatter rank/degree along edges, gather by destination.

    Per round: the |V|-row rank frame BROADCASTS onto the checkpointed
    (src, dst, deg) edge table (the 100 TB-shaped side never moves),
    contributions reduce with map-side partial aggregation into the
    next |V|-row frame — one shuffle of |V| partials per round, not
    |E| messages. The undirected graph has no dangling nodes (every
    endpoint has degree >= 1), so no dangling-mass term is needed.

    Cross-engine exactness: per-edge contributions floor-quantize at
    10^-12 into int64 (order-independent sums — a raw double SUM would
    differ between engines), ranks re-round to 9 dp per round, and the
    recursion constants live in ONE place shared with the oracle's
    unrolled CTEs.
    """
    edges = copurchase_edges(spark, sf_dir)
    und = edges.select(F.col("a").alias("s"), F.col("b").alias("t")).unionAll(
        edges.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    # Materialize the per-round inputs once: without the cuts the round-3
    # plan embeds deg four times and und three times, and AQE re-plans
    # every duplicated subtree (measured 3.8-10 s for a 3.5k-edge graph —
    # pure scheduling overhead). Same per-round lineage-cut discipline as
    # dedup_connected_components / hierarchy_depth_doubling. The edge
    # frame is also SIZED to its row count (500k rows/partition): a
    # 3.5k-edge graph on 10 partitions pays 10-task scheduling per stage
    # per round for nothing — measured 1.5 s → 0.8 s from the coalesce —
    # while a 100 TB edge list keeps thousands of partitions.
    n_edges = edges.count()  # edges is a materialized checkpoint: cheap
    parts = max(1, min(und.rdd.getNumPartitions(), (2 * n_edges) // 500_000))
    und = und.coalesce(parts).localCheckpoint(eager=True)
    deg = und.groupBy("s").agg(F.count("*").alias("deg")).localCheckpoint(
        eager=True
    )
    pr = deg.select(F.col("s").alias("n"), F.lit(1.0).alias("pr"))
    for _ in range(PR_ITERS):
        # pr(s)/deg(s) is a per-NODE constant — quantize it on the
        # |V|-row frame BEFORE fanning out along edges, so the edge-side
        # work is a pure broadcast-hash lookup + int64 sum (the oracle's
        # per-edge FLOOR is identical because its inputs are per-node)
        nstate = pr.join(deg, pr.n == deg.s).select(
            "n", F.floor(F.col("pr") / F.col("deg") * F.lit(1e12)).alias("c")
        )
        pr = (
            und.join(F.broadcast(nstate), F.col("s") == F.col("n"))
            .groupBy("t")
            .agg(
                F.round(
                    F.lit(0.15)
                    + F.lit(0.85) * (F.sum("c").cast("double") / F.lit(1e12)),
                    9,
                ).alias("pr")
            )
            .select(F.col("t").alias("n"), "pr")
        )
    return (
        pr.select(F.col("n").alias("part_id"), F.col("pr").alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), F.col("part_id").asc())
        .limit(10)
    )


def copurchase_degrees_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted per-node degree table (n, degree) over the co-purchase
    edges — shared by the degree histogram, assortativity, and any
    future hub-capping op (same discipline as the edge artifact it
    derives from)."""
    from dataengineeringutils_spark.artifacts import df_artifact

    def _build():
        edges = copurchase_edges(spark, sf_dir)
        return (
            edges.select(F.col("a").alias("n"))
            .unionAll(edges.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").cast("bigint").alias("degree"))
        )

    return df_artifact(spark, sf_dir, "graph_copurchase_degrees", _build)


@query(
    "graph_degree_stats",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    deg AS (
        SELECT n, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e)
        GROUP BY n
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph: how many nodes have
    each degree — the first diagnostic of any graph workload (hub
    detection, power-law check, join-skew forecast: a heavy-tailed
    degree histogram here predicts skewed shuffles in every downstream
    graph join, and is the signal to salt or cap hubs).

    Consumes the session-cached edge table (one materialization serves
    triangles / PageRank / this), then two map-side-combined aggregates
    on frames that are |nodes| and |distinct degrees| rows — the fact
    table is never touched after the edge build.
    """
    edges = copurchase_edges(spark, sf_dir)
    deg = copurchase_degrees_cached(spark, sf_dir)
    return deg.groupBy("degree").agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )


def _kcore_peel_sql(k: int, rounds: int) -> str:
    """Chained-CTE unrolled k-core peeling over symmetric edge CTE ``e``
    (src, dst): round i keeps nodes with >= k surviving neighbors.
    Every round references the previous round TWICE, so the CTEs are
    pinned MATERIALIZED — inlined, the plan doubles per round and the
    oracle went exponential (measured ~45 s for 6 rounds vs <1 s
    materialized; Spark-side execution checkpoints per round for the
    same reason)."""
    parts = ["r0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e)"]
    for i in range(1, rounds + 1):
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT e.src AS node FROM e "
            f"JOIN r{i-1} a ON e.src = a.node "
            f"JOIN r{i-1} b ON e.dst = b.node "
            f"GROUP BY e.src HAVING COUNT(*) >= {k})"
        )
    return ",\n".join(parts)


KCORE_K = 2
KCORE_ROUNDS = 12  # unroll depth; Spark loops to fixpoint and ASSERTS it is reached within this
KCORE_LOCAL_EDGES = 200_000  # finish the peel locally below this edge count


@query(
    "graph_kcore_2",
    oracle=f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    e AS (SELECT a AS src, b AS dst FROM e0
          UNION ALL SELECT b, a FROM e0),
    {_kcore_peel_sql(KCORE_K, KCORE_ROUNDS)}
    SELECT (SELECT COUNT(*) FROM r0) AS n_nodes,
           (SELECT COUNT(*) FROM r{KCORE_ROUNDS}) AS n_core_nodes,
           (SELECT COUNT(*) FROM e0
             WHERE a IN (SELECT node FROM r{KCORE_ROUNDS})
               AND b IN (SELECT node FROM r{KCORE_ROUNDS})) AS n_core_edges
    """,
)
def graph_kcore_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the co-purchase graph: iteratively peel nodes with
    fewer than 2 surviving neighbors until fixpoint — the standard
    dense-subgraph extraction that strips pendant chains/leaves before
    community or cycle analysis (what remains is exactly the part of
    the graph that can contain cycles).

    Spark executes the peel as a DRIVER LOOP with an eager checkpoint
    per round (each round references the surviving-node set TWICE — an
    inlined-CTE formulation doubles the plan per round and went
    exponential: measured 70 s for 6 rounds vs ~2 s checkpointed; the
    oracle keeps the chained-CTE text because DuckDB materializes
    multiply-referenced CTEs). Semantics are identical round for round
    and integer-exact, so the value hash still pins them. Each round's
    frame is |surviving nodes|; the edge table is the session-cached
    co-purchase artifact. A full k-core DECOMPOSITION (core number per
    node) is the same loop emitting the round at which each node fell.

    Convergence is CHECKED, not assumed: the loop exits when a round
    removes nothing, and raises if {KCORE_ROUNDS} rounds were not
    enough (the unrolled oracle would then also be unconverged — the
    raise turns a silent both-engines-agree-on-the-wrong-answer into a
    loud failure; rounds past the fixpoint are no-ops in both engines,
    so the oracle's fixed depth matches any earlier convergence).
    """
    edges = copurchase_edges(spark, sf_dir)
    live = edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).localCheckpoint(eager=True)
    n_nodes = live.select("src").distinct().count()
    # LIVE-EDGE peel (round-4 rework): instead of re-joining the FULL
    # symmetric edge table against the survivor set twice per round, the
    # loop maintains the edge set among survivors. live_i = edges among
    # r_i by induction (deg over live_{i-1} IS |N(v) ∩ r_{i-1}|), so the
    # semantics are round-for-round identical to the oracle's unroll —
    # but every join shrinks with the graph, and the 2-core summary falls
    # straight out of the final edge set (nodes = distinct src, edges =
    # count/2) with no post-loop joins. Convergence detection rides the
    # same per-round count: an unchanged edge count means an unchanged
    # edge SET (monotone shrink), hence fixpoint.
    prev_e = live.count()
    converged = False
    rounds_left = KCORE_ROUNDS
    while rounds_left > 0:
        # SIZE-ADAPTIVE finish: each distributed round costs fixed job
        # overhead (3 shuffles + checkpoint + count) regardless of how
        # small the surviving graph has become — and peeling shrinks it
        # fast. Once the exact count IN HAND is below the bound, pull
        # the remaining edges (≤ {KCORE_LOCAL_EDGES} rows, a few MB —
        # a GUARDED collect, never an unbounded one) and run the same
        # simultaneous rounds in driver python: round semantics, budget
        # and the unconverged raise are identical, so the result is the
        # oracle's r{KCORE_ROUNDS} bit for bit. At 100 TB the loop
        # stays distributed until the graph has collapsed to driver
        # scale — the standard endgame for iterative graph peeling.
        if prev_e <= KCORE_LOCAL_EDGES:
            adj: dict[int, set[int]] = {}
            for r in live.collect():
                adj.setdefault(r["src"], set()).add(r["dst"])
            alive = set(adj)
            while rounds_left > 0:
                keep = {
                    v for v in alive if len(adj[v] & alive) >= KCORE_K
                }
                rounds_left -= 1
                if keep == alive:
                    converged = True
                    break
                alive = keep
            if converged:
                n_core_nodes = len(alive)
                n_core_edges = (
                    sum(len(adj[v] & alive) for v in alive) // 2
                )
                return local_table(
                    spark,
                    [(n_nodes, n_core_nodes, n_core_edges)],
                    "n_nodes bigint, n_core_nodes bigint, n_core_edges bigint",
                )
            break
        surv = (
            live.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("src")
        )
        live = (
            live.join(surv, "src", "left_semi")
            .join(surv.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        e = live.count()
        rounds_left -= 1
        if e == prev_e:
            converged = True
            break
        prev_e = e
    if not converged:
        raise RuntimeError(
            f"2-core peel did not converge within {KCORE_ROUNDS} rounds "
            "— raise KCORE_ROUNDS (and the oracle's unroll depth with it)"
        )
    return (
        live.select("src")
        .distinct()
        .agg(F.count("*").alias("n_core_nodes"))
        .crossJoin(
            live.agg((F.count("*") / 2).cast("bigint").alias("n_core_edges"))
        )
        .select(
            F.lit(n_nodes).cast("bigint").alias("n_nodes"),
            F.col("n_core_nodes").cast("bigint"),
            F.col("n_core_edges").cast("bigint"),
        )
    )


@query(
    "graph_degree_assortativity",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    deg AS (
        SELECT n, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0)
        GROUP BY n
    ),
    ends AS (
        SELECT da.degree AS dx, db.degree AS dy
        FROM e0
        JOIN deg da ON e0.a = da.n
        JOIN deg db ON e0.b = db.n
    ),
    sym AS (
        SELECT dx, dy FROM ends UNION ALL SELECT dy, dx FROM ends
    )
    SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_edges,
           ROUND(corr(CAST(dx AS DOUBLE), CAST(dy AS DOUBLE)), 4)
               AS assortativity
    FROM sym
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of degrees across edge endpoints (Newman 2002) —
    positive means hubs connect to hubs (social-network-like), negative
    means hubs connect to leaves (hub-and-spoke; typical for
    catalog/co-purchase graphs). The one-number structural summary that
    says which join-skew/partitioning regime downstream graph workloads
    live in.

    Degrees are one aggregate over the cached edge table; endpoint
    degrees join back broadcast; edges are symmetrized before the
    correlation (assortativity is defined over directed edge ends).
    corr is a sample statistic — 4 dp per the oracle conventions.
    """
    edges = copurchase_edges(spark, sf_dir)
    deg = copurchase_degrees_cached(spark, sf_dir)
    da = deg.select(F.col("n").alias("a"), F.col("degree").alias("dx"))
    db = deg.select(F.col("n").alias("b"), F.col("degree").alias("dy"))
    ends = edges.join(F.broadcast(da), "a").join(F.broadcast(db), "b").select(
        "dx", "dy"
    )
    sym = ends.unionAll(
        ends.select(F.col("dy").alias("dx"), F.col("dx").alias("dy"))
    )
    return sym.agg(
        F.expr("CAST(COUNT(*) / 2 AS BIGINT)").alias("n_edges"),
        F.round(
            F.corr(F.col("dx").cast("double"), F.col("dy").cast("double")), 4
        ).alias("assortativity"),
    )


@query(
    "graph_two_hop_neighborhood",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    e AS (SELECT a AS src, b AS dst FROM e0
          UNION ALL SELECT b, a FROM e0),
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM e GROUP BY src
    ),
    hubs AS (
        SELECT node, degree FROM deg
        ORDER BY degree DESC, node ASC LIMIT 10
    ),
    two_hop AS (
        SELECT h.node, e2.dst AS reach
        FROM hubs h
        JOIN e e1 ON e1.src = h.node
        JOIN e e2 ON e2.src = e1.dst
        WHERE e2.dst <> h.node
        UNION
        SELECT h.node, e1.dst FROM hubs h JOIN e e1 ON e1.src = h.node
    )
    SELECT t.node, ANY_VALUE(h.degree) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_within_2_hops
    FROM two_hop t JOIN hubs h ON t.node = h.node
    GROUP BY t.node
    """,
)
def graph_two_hop_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop neighborhood size for the 10 highest-degree hubs of the
    co-purchase graph: how much of the graph each hub reaches within
    two edges — the blast-radius number behind recommendation fan-out,
    cache warming, and "if this SKU goes viral, what co-loads".

    Unbounded 2-hop expansion is quadratic in hub degree, so the op
    BOUNDS the frontier to a fixed hub set first (top-10 by degree off
    the cached degree table — a TakeOrdered heap, no global sort);
    expansion is then two broadcast-hub joins against the cached edge
    table and a distinct over the ≤|hubs|·|reach| frontier. At 100 TB
    the same shape runs per-hub-batch; the full-graph variant is the
    iterative doubling op (B186).
    """
    edges = copurchase_edges(spark, sf_dir)
    sym = edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").cast("bigint").alias("degree"))
    hubs = (
        deg.select(F.col("src").alias("node"), "degree")
        .orderBy(F.col("degree").desc(), F.col("node").asc())
        .limit(10)
    )
    e1 = sym.select(F.col("src").alias("node"), F.col("dst").alias("mid"))
    one_hop = hubs.join(e1, "node")
    two_hop = (
        one_hop.join(
            sym.select(F.col("src").alias("mid"), F.col("dst").alias("reach")),
            "mid",
        )
        .filter(F.col("reach") != F.col("node"))
        .select("node", "reach")
        .union(one_hop.select("node", F.col("mid").alias("reach")))
        .distinct()
    )
    return (
        two_hop.join(F.broadcast(hubs), "node")
        .groupBy("node")
        .agg(
            F.any_value("degree").alias("degree"),
            F.count("*").cast("bigint").alias("n_within_2_hops"),
        )
    )


@query(
    "graph_local_clustering",
    oracle="""
    WITH pp AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT a.p AS a, b.p AS b
        FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING COUNT(*) >= 2
    ),
    deg AS (
        SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT a AS n FROM edges UNION ALL SELECT b FROM edges
        ) GROUP BY n
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    tcount AS (
        SELECT n, CAST(COUNT(*) AS BIGINT) AS t FROM (
            SELECT x AS n FROM tri UNION ALL
            SELECT y FROM tri UNION ALL
            SELECT z FROM tri
        ) GROUP BY n
    ),
    coef AS (
        SELECT deg.d,
               CAST(2.0 * COALESCE(t, 0) AS DOUBLE) / (d * (d - 1)) AS c
        FROM deg LEFT JOIN tcount USING (n)
        WHERE d >= 2
    )
    SELECT CASE WHEN d >= 16 THEN '16+' WHEN d >= 8 THEN '8-15'
                WHEN d >= 4 THEN '4-7' ELSE '2-3' END AS degree_band,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           ROUND(CAST(SUM(CAST(FLOOR(c * 1e9) AS BIGINT)) AS DOUBLE)
                 / 1e9 / COUNT(*), 6) AS mean_clustering
    FROM coef GROUP BY 1
    """,
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL clustering coefficient (2·triangles / d(d−1) per node) over
    the co-purchase graph, summarized per degree band — where
    ``graph_triangle_count`` gives the global census, this says WHERE
    the cohesion lives: high coefficients at low degree = tight niche
    clusters, decay at the hubs = the usual hierarchical structure;
    flat-high everywhere flags a near-clique (degenerate blocking for
    any pairwise op downstream).

    Triangle enumeration reuses the canonical a<b<c three-join on the
    session-cached edge table (hub-safe orientation as in B216); node
    credit is a 3-way union + count, coefficients are exact integer
    ratios, and band means quantize each node's coefficient at 10⁻⁹
    into int64 before summing (order-independent). |V|-sized frames
    only after the edge joins collapse.
    """
    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionAll(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    e1 = edges
    e2 = edges.select(F.col("a").alias("a2"), F.col("b").alias("b2"))
    e3 = edges.select(F.col("a").alias("a3"), F.col("b").alias("b3"))
    tri = (
        e1.join(e2, (F.col("a2") == F.col("a")) & (F.col("b2") > F.col("b")))
        .join(
            e3,
            (F.col("a3") == F.col("b")) & (F.col("b3") == F.col("b2")),
        )
        .select(
            F.col("a").alias("x"), F.col("b").alias("y"), F.col("b2").alias("z")
        )
    )
    tcount = (
        tri.select(F.col("x").alias("n"))
        .unionAll(tri.select(F.col("y").alias("n")))
        .unionAll(tri.select(F.col("z").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("bigint").alias("t"))
    )
    coef = (
        deg.join(tcount, "n", "left")
        .filter(F.col("d") >= 2)
        .select(
            "d",
            (
                F.lit(2.0) * F.coalesce(F.col("t"), F.lit(0)).cast("double")
                / (F.col("d") * (F.col("d") - 1))
            ).alias("c"),
        )
    )
    band = (
        F.when(F.col("d") >= 16, "16+")
        .when(F.col("d") >= 8, "8-15")
        .when(F.col("d") >= 4, "4-7")
        .otherwise("2-3")
    )
    return coef.groupBy(band.alias("degree_band")).agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.round(
            F.sum(F.floor(F.col("c") * F.lit(1e9)).cast("bigint")).cast(
                "double"
            )
            / F.lit(1e9)
            / F.count("*"),
            6,
        ).alias("mean_clustering"),
    )


@query(
    "graph_component_sizes",
    oracle="""
    WITH RECURSIVE pp AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT a.p AS a, b.p AS b
        FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING COUNT(*) >= 2
    ),
    und AS (
        SELECT a AS src, b AS dst FROM edges
        UNION ALL SELECT b, a FROM edges
    ),
    walk(node, label) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM und)
        UNION
        SELECT u.src, w.label
        FROM und u JOIN walk w ON w.node = u.dst
        WHERE w.label < u.src
    ),
    comp AS (
        SELECT node, MIN(label) AS label FROM walk GROUP BY node
    ),
    sizes AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS sz
        FROM comp GROUP BY label
    )
    SELECT CAST(LEAST(sz, 10) AS INT) AS size_band,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(SUM(sz) AS BIGINT) AS n_nodes
    FROM sizes GROUP BY 1
    """,
)
def graph_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-COMPONENT size distribution of the co-purchase graph
    (banded, 10+ capped): one giant component is the small-world norm;
    many mid-size islands mean genuinely separate product universes —
    which changes recommendation blending, graph-feature usefulness,
    and whether per-component parallelism is available for downstream
    graph jobs. Complements the density views (triangles, clustering,
    k-core) with the global fragmentation view.

    Components come from the shared min-label propagation kernel
    (eager checkpoint per round, one heavy job per iteration — the
    dedup_connected_components machinery on the session-cached edge
    table); the size histogram is two tiny collapses. The oracle walks
    the same graph with a recursive CTE.
    """
    from dataengineeringutils_spark.operators.dedup import (
        min_label_components,
    )

    from dataengineeringutils_spark.artifacts import df_artifact

    # labels are a deterministic derived artifact of the edge table
    # (itself persisted): materialize once per corpus, like the shingle
    # / IVF-assignment artifacts — the iterative propagation is the
    # expensive part, the histogram is two tiny collapses
    comp = df_artifact(
        spark,
        sf_dir,
        "graph_component_labels",
        lambda: min_label_components(
            copurchase_edges(spark, sf_dir), "a", "b"
        ),
    )
    sizes = comp.groupBy("label").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    return sizes.groupBy(
        F.least(F.col("sz"), F.lit(10)).cast("int").alias("size_band")
    ).agg(
        F.count("*").cast("bigint").alias("n_components"),
        F.sum("sz").cast("bigint").alias("n_nodes"),
    )
