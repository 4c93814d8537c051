"""Mergeable-sketch aggregates (B158-B160): Apache DataSketches via Spark 4.

The 100 TB story: sketches are *mergeable summaries* — each executor builds a
small fixed-size sketch over its partition, the shuffle moves sketches (KB)
instead of raw keys (GB), and a second-level aggregate merges them. This is
the only way COUNT(DISTINCT)-class questions stay one-pass at cluster scale,
and it composes with rollups: sketches built per fine bucket (month) can be
re-merged to any coarser bucket (year) without rescanning the fact table.

Estimates are deterministic for a given input (DataSketches HLL/theta hash
values, no RNG at query time; register/KLL-compaction merges are
order-insensitive), but *engine-specific* — so the declared outputs carry
the EXACT values plus an accuracy-contract boolean, and the DuckDB oracle
asserts the same exact values with the contract literally TRUE. A false
boolean on the Spark side hash-mismatches the oracle and fails the gate.

Reference locus: the reference reaches approx-distinct only via Athena
(Presto ``approx_distinct``), [R] dataengineeringutils/athena.py
(SURVEY.md §0 citation scheme).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineeringutils_spark.registry import query
from dataengineeringutils_spark.tables import local_table, table


@query(
    "agg_sketch_hll_merge",
    oracle="""
    SELECT year(o_orderdate) AS o_year,
           COUNT(DISTINCT o_custkey) AS exact_customers,
           TRUE AS within_5pct
    FROM orders
    GROUP BY year(o_orderdate)
    """,
)
def agg_sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B158: two-level HLL distinct — per-month sketches union-merged to years.

    Level 1 builds one HLL sketch per (year, month) — at scale this is the
    map-side partial; level 2 merges 12 sketches per year with
    ``hll_union_agg``. The exact count (for the contract) is computed in the
    same job; at 100 TB you would *only* run the sketch path.
    HLL lgConfigK=12 → rsd ≈ 1.6 %, so the 5 % contract is ~3σ.
    """
    o = table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        "o_custkey",
    )
    partials = o.groupBy("o_year", "o_month").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    merged = partials.groupBy("o_year").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = o.groupBy("o_year").agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    return exact.join(merged, "o_year").select(
        "o_year",
        "exact_customers",
        (
            F.abs(F.col("est") - F.col("exact_customers"))
            <= 0.05 * F.col("exact_customers")
        ).alias("within_5pct"),
    )


@query(
    "agg_sketch_kll_quantile",
    oracle="""
    SELECT o_orderpriority,
           ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY o_totalprice), 2)
               AS p50_exact,
           TRUE AS within_rank_bounds
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_sketch_kll_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B159: mergeable quantile sketch — two KLL partials merged, p50 queried.

    Splits the fact table into two shards (even/odd orderkey — stand-ins for
    two executors' partitions), builds one KLL(double) sketch per
    (priority, shard), then merges the pair with the binary
    ``kll_sketch_merge_double`` and reads the median off the merged sketch.
    Contract: the sketch median must land between the exact p40 and p60
    (KLL k=200 rank error ≈ 1.65 % ≪ the ±10 % rank window).
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_totalprice",
        (F.col("o_orderkey") % 2).alias("shard"),
    )
    partials = o.groupBy("o_orderpriority", "shard").agg(
        F.kll_sketch_agg_double("o_totalprice").alias("sk")
    )
    # Second-level MERGE AGGREGATE over the shard partials — the actual
    # distributed rollup shape (any shard count, no NULL-handling cliff),
    # unlike a 2-column pivot that breaks if a shard is ever empty.
    est = partials.groupBy("o_orderpriority").agg(
        F.kll_sketch_get_quantile_double(
            F.kll_merge_agg_double("sk"), F.lit(0.5)
        ).alias("p50_est"),
    )
    exact = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.4)).alias("p40"),
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
        F.percentile("o_totalprice", F.lit(0.6)).alias("p60"),
    )
    return exact.join(est, "o_orderpriority").select(
        "o_orderpriority",
        F.round("p50", 2).alias("p50_exact"),
        F.col("p50_est").between(F.col("p40"), F.col("p60")).alias(
            "within_rank_bounds"
        ),
    )


@query(
    "agg_sketch_theta_daily",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS d,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_5pct
    FROM events
    GROUP BY strftime(ts, '%Y-%m-%d')
    """,
)
def agg_sketch_theta_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B160: theta-sketch daily distinct users (set-expression-capable family).

    Theta sketches carry a retained-key sample, so beyond union they support
    intersection/difference estimates — the family you reach for when the
    question becomes "users who did A but not B". Below its nominal-entries
    threshold (lgK=12 → 4096) the sketch is in exact mode, so the 5 %
    contract is conservative at every fixture scale AND at 100 TB.
    """
    e = table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("d"), "user_id"
    )
    g = e.groupBy("d").agg(
        F.theta_sketch_estimate(F.theta_sketch_agg("user_id")).alias("est"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return g.select(
        "d",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_5pct"),
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT year(o_orderdate) AS o_year,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders
    GROUP BY year(o_orderdate)
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B170: EXACT distinct via two-phase bitmap merge (Spark 4 bitmaps).

    The exact counterpart of the HLL op: keys map to (bucket, bit)
    positions, each (year, month, bucket) group ORs its bits into one
    32 KB bitmap, bucket bitmaps merge across months with
    ``bitmap_or_agg``, and popcounts sum per year. Unlike
    COUNT(DISTINCT)'s Expand-based two-phase agg, the shuffle here moves
    fixed-size bitmaps no matter how many raw keys a group holds, and
    the month-level partials remain re-mergeable to ANY coarser rollup —
    sketch mechanics with no approximation error.
    """
    o = table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        "o_custkey",
    )
    month_bitmaps = o.groupBy(
        "o_year", "o_month", F.bitmap_bucket_number("o_custkey").alias("bucket")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("o_custkey")).alias("bm"))
    year_buckets = month_bitmaps.groupBy("o_year", "bucket").agg(
        F.bitmap_or_agg("bm").alias("bm")
    )
    return (
        year_buckets.select("o_year", F.bitmap_count("bm").alias("c"))
        .groupBy("o_year")
        .agg(F.sum("c").alias("n_customers"))
    )


CMS_KEYS = [0, 1, 2, 3, 4]  # custkeys probed against the sketch
CMS_EPS = 0.001  # over-estimate bound: eps * N with prob >= confidence
CMS_CONF = 0.99


@query(
    "agg_count_min_sketch",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS exact_n,
           TRUE AS no_underestimate,
           TRUE AS within_eps_bound
    FROM orders
    WHERE o_custkey IN (0, 1, 2, 3, 4)
    GROUP BY o_custkey
    """,
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation, property-gated like the
    other sketch ops: build ONE mergeable CMS over all order keys
    executor-side (``F.count_min_sketch`` is a real aggregate — partials
    merge in the shuffle), probe 5 keys driver-side, and assert the CMS
    contract per key: estimate >= exact (CMS never underestimates) and
    estimate <= exact + eps*N (w.p. confidence; seed pinned, so the
    booleans are deterministic). The oracle expects TRUE/TRUE — a
    broken sketch or merge fails the gate loudly.
    """
    o = table(spark, sf_dir, "orders")
    sk_row = o.agg(
        F.count_min_sketch(
            "o_custkey", F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(42)
        ).alias("sk"),
        F.count("*").alias("n_total"),
    ).collect()[0]
    jvm = spark.sparkContext._jvm
    bis = jvm.java.io.ByteArrayInputStream(bytes(sk_row["sk"]))
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)
    est = local_table(
        spark,
        [(k, cms.estimateCount(k)) for k in CMS_KEYS],
        "o_custkey bigint, est bigint",
    )
    exact = (
        o.filter(F.col("o_custkey").isin(CMS_KEYS))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("exact_n"))
    )
    bound = F.lit(float(CMS_EPS)) * F.lit(sk_row["n_total"])
    return exact.join(F.broadcast(est), "o_custkey").select(
        "o_custkey",
        "exact_n",
        (F.col("est") >= F.col("exact_n")).alias("no_underestimate"),
        ((F.col("est") - F.col("exact_n")).cast("double") <= bound).alias(
            "within_eps_bound"
        ),
    )


HLL_IX_TOL = 0.15  # inclusion-exclusion compounds 3 sketch errors; ~9σ slack


@query(
    "agg_hll_intersection",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection,
           TRUE AS within_tolerance
    FROM (
        SELECT user_id FROM events WHERE event_type = 'view'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    """,
)
def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B219-family: set-intersection estimate by HLL inclusion–exclusion —
    |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union comes from a
    SKETCH MERGE, never from re-reading the data.

    This is the audience-overlap query at 100 TB: per-segment HLL
    partials are tiny (1.5 KB at lgK=12), mergeable across any grouping,
    and the intersection needs no joint pass over both segments. HLL
    (unlike theta) has no exact mode, so the result is genuinely
    approximate at every scale — the contract gates the estimate within
    ±15 % of exact (3 compounded ~1.6 % sketches ≪ the window) and the
    oracle pins the exact count computed engine-side.
    """
    e = table(spark, sf_dir, "events")
    seg = e.filter(F.col("event_type").isin("view", "purchase")).select(
        "event_type", "user_id"
    )
    sketches = seg.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_n"),
    )
    # one row: both per-segment estimates + the merged-union estimate
    est = sketches.agg(
        F.sum(F.when(F.col("event_type") == "view",
                     F.hll_sketch_estimate("sk"))).alias("est_view"),
        F.sum(F.when(F.col("event_type") == "purchase",
                     F.hll_sketch_estimate("sk"))).alias("est_purchase"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_union"),
    )
    exact = (
        seg.filter(F.col("event_type") == "view")
        .select("user_id")
        .intersect(
            seg.filter(F.col("event_type") == "purchase").select("user_id")
        )
        .agg(F.count("*").cast("bigint").alias("exact_intersection"))
    )
    est_ix = F.col("est_view") + F.col("est_purchase") - F.col("est_union")
    return exact.crossJoin(est).select(
        "exact_intersection",
        (
            F.abs(est_ix - F.col("exact_intersection"))
            <= F.col("exact_intersection") * HLL_IX_TOL
        ).alias("within_tolerance"),
    )
