"""Event-analytics operators: funnel, cohort retention, streaks, rollups.

The reference reaches these shapes through hand-written Athena SQL over
append-only event tables ([R] dataengineeringutils/athena.py, SURVEY.md
§0/§2.B); product-analytics funnels/cohorts/streaks and multi-resolution
time rollups are the canonical queries of that workload. Implemented
natively on the ``events`` fixture (user_id, ts, event_type, value).

Scale notes (100 TB events):
- Every op here groups/joins on ``user_id`` (high cardinality, ~uniform)
  — hash shuffles partition evenly; no skew salting needed.
- The funnel's three stage frames derive from ONE scan (conditional
  filters on event_type reach the parquet scan as pushed predicates);
  stage joins are user_id equi-joins that AQE plans as broadcast once a
  stage's survivor set shrinks below the threshold — exactly the funnel
  drop-off behavior.
- The hypertable rollup computes hour/day/month resolutions in a SINGLE
  scan + single shuffle via GROUPING SETS rather than 3 scans + UNION
  (at 100 TB the scan dominates; a 3× row expansion in the shuffle is
  map-side-combined down to bucket cardinality first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataengineeringutils_spark.operators.windows import (
    ntile_closed_form,
    two_phase_global_rank,
)
from dataengineeringutils_spark.registry import query
from dataengineeringutils_spark.tables import table, ts_bounds


@query(
    "events_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS users_viewed,
           (SELECT COUNT(*) FROM s2) AS users_clicked,
           (SELECT COUNT(*) FROM s3) AS users_purchased
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-stage funnel: view -> click -> purchase, strictly in time.

    A user counts at stage N only with an event AFTER their first stage-N-1
    event (first-touch semantics: MIN ts per stage). Three conditional
    aggregates off one scan; stage joins shrink monotonically so AQE
    broadcasts the survivor side.
    """
    e = table(spark, sf_dir, "events")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count("*").alias("users_viewed"))
        .crossJoin(s2.agg(F.count("*").alias("users_clicked")))
        .crossJoin(s3.agg(F.count("*").alias("users_purchased")))
    )


@query(
    "retention_cohort",
    oracle="""
    WITH first_seen AS (
        SELECT user_id,
               CAST(DATE_TRUNC('week', MIN(ts)) AS DATE) AS cohort_day
        FROM events GROUP BY user_id
    )
    SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_week,
           DATE_DIFF('day', f.cohort_day,
                     CAST(DATE_TRUNC('week', e.ts) AS DATE)) / 7 AS week_n,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix.

    Cohort = Monday-start week of a user's first event; week_n = whole
    weeks since. Two shuffles (user_id agg, then cohort/week agg) — the
    second is map-side-combined to |cohorts|x|weeks| rows. The first-seen
    frame is per-user (small relative to events), so AQE broadcasts it
    into the events join at any realistic scale.
    """
    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_day")
    )
    return (
        e.join(first_seen, "user_id")
        .select(
            F.col("cohort_day").cast("timestamp").alias("cohort_week"),
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_day"),
                )
                / 7
            )
            .cast("long")
            .alias("week_n"),
            "user_id",
        )
        .groupBy("cohort_week", "week_n")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_n")
    )


@query(
    "win_gap_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    islands AS (
        SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY d) AS INTEGER) AS island
        FROM days
    )
    SELECT user_id, MAX(streak) AS max_streak, COUNT(*) AS n_streaks
    FROM (
        SELECT user_id, island, COUNT(*) AS streak
        FROM islands GROUP BY user_id, island
    )
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def win_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest consecutive-active-day streak per user.

    Classic date-minus-row_number island labeling — consecutive dates map
    to a constant (date - rank), so streaks become a groupBy. One shuffle
    on user_id serves the distinct, the window, and both aggregations
    (same partitioning reused across stages; no re-exchange).
    """
    e = table(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn(
        "island", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count("*").alias("streak")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("streak").alias("max_streak"),
            F.count("*").alias("n_streaks"),
        )
        .orderBy("user_id")
    )


@query(
    "rollup_hypertable",
    oracle="""
    SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour'
                WHEN GROUPING(d) = 0 THEN 'day'
                ELSE 'month' END AS level,
           CAST(COALESCE(h, CAST(d AS TIMESTAMP),
                         CAST(m AS TIMESTAMP)) AS TIMESTAMP) AS bucket,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM (
        SELECT event_type, value,
               DATE_TRUNC('hour', ts)  AS h,
               DATE_TRUNC('day', ts)   AS d,
               DATE_TRUNC('month', ts) AS m
        FROM events
    )
    GROUP BY GROUPING SETS ((h, event_type), (d, event_type), (m, event_type))
    """,
)
def rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (hour/day/month) in one pass.

    The hypertable continuous-aggregate shape: one scan, one shuffle,
    GROUPING SETS over three truncation granularities instead of three
    scans + UNION ALL. ``GROUPING()`` disambiguates the level; buckets
    are cast to timestamp so all three resolutions share one column.
    """
    e = table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("month", "ts").alias("m"),
    )
    e.createOrReplaceTempView("_hypertable_src")
    return spark.sql(
        """
        SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour'
                    WHEN GROUPING(d) = 0 THEN 'day'
                    ELSE 'month' END AS level,
               COALESCE(h, d, m) AS bucket,
               event_type,
               COUNT(*) AS n,
               ROUND(SUM(value), 2) AS sum_value
        FROM _hypertable_src
        GROUP BY GROUPING SETS ((h, event_type), (d, event_type),
                                (m, event_type))
        """
    )


@query(
    "events_zscore_anomaly",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               AVG(value) AS mu,
               STDDEV_SAMP(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(CAST(e.ts AS DATE) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           COUNT(*) FILTER (ROUND(ABS((e.value - s.mu) / s.sigma), 6) > 2)
               AS n_anomalies
    FROM events e JOIN stats s ON e.event_type = s.event_type
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly counts per event type per day (|z| > 2 against the
    type's global mean/stddev).

    The scalable shape: aggregate the per-type stats (5 rows), broadcast
    them back onto the stream — NOT a whole-type window, which would
    shuffle every event into one partition per type. Two scans of
    events, both pipelined; the z threshold is applied on a rounded
    value so the engines' last-ulp mean/stddev differences can't flip a
    boundary row.
    """
    e = table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = F.round(F.abs((F.col("value") - F.col("mu")) / F.col("sigma")), 6)
    return (
        e.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            F.col("ts").cast("date").cast("timestamp").alias("day"),
            (z > 2).cast("long").alias("is_anom"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("is_anom").alias("n_anomalies"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "timeseries_resample",
    oracle="""
    SELECT event_type,
           strftime(ts, '%Y-%m-%d') AS bucket_day,
           CAST(FLOOR(EXTRACT(hour FROM ts) / 6) * 6 AS INT) AS bucket_hour,
           arg_min(value, ts) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, ts) AS close,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def timeseries_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the event stream into 6-hour OHLC bars per event type.

    The market-data resample shape, generalized: open/close are
    ``min_by``/``max_by`` on the event timestamp — ONE hash aggregate,
    no window, no self-join, and map-side partial aggregation collapses
    each input partition to |buckets| rows before the shuffle, so at
    100 TB the shuffle moves bucket-cardinality data (~600 rows/day
    here), not events. The mean divides an exact decimal sum by the
    count so both engines round the same quotient (double summation
    order would differ in the last ulp). Fixture timestamps are unique
    (microsecond grain), making arg_min/arg_max deterministic without a
    composite tiebreak; production data with tied timestamps would order
    by a (ts, event_id) struct on the Spark side.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("bucket_day"),
            (F.floor(F.hour("ts") / 6) * 6).cast("int").alias("bucket_hour"),
            "ts",
            "value",
        )
        .groupBy("event_type", "bucket_day", "bucket_hour")
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM pairs
    ORDER BY prev_type, next_type
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences.

    ``lag`` over (user_id, ts) forms the bigrams — one shuffle on
    user_id, partitions are independent users so the window never
    funnels. The transition counts collapse to |types|² rows; the row
    normalization (empirical transition probability) windows over THAT
    aggregated frame, exactly like ratio-to-report: the expensive data
    never sees an unpartitioned window. Timestamps are unique per user
    (fixture grain), so the sequence order is total and both engines
    build identical bigrams.
    """
    ev = table(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w_seq).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    w_prev = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w_prev), 6).alias("p"),
    ).orderBy("prev_type", "next_type")


RFM_LOCAL_ROWS = 1_000_000  # below this, one grouped-map task ranks exactly


@query(
    "events_rfm_segments",
    oracle="""
    WITH maxd AS (SELECT MAX(ts) AS gmax FROM events WHERE event_type = 'purchase'),
    per_user AS (
        SELECT user_id,
               CAST(date_diff('day', MAX(ts), ANY_VALUE(m.gmax)) AS BIGINT)
                   AS recency_days,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        FROM events, maxd m
        WHERE event_type = 'purchase'
        GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, monetary,
           CAST(NTILE(4) OVER (ORDER BY recency_days ASC, user_id ASC) AS INT) AS r,
           CAST(NTILE(4) OVER (ORDER BY frequency DESC, user_id ASC) AS INT) AS f,
           CAST(NTILE(4) OVER (ORDER BY monetary DESC, user_id ASC) AS INT) AS m
    FROM per_user
    """,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring from purchases.

    The fact table collapses to one row per user FIRST (exact-decimal
    monetary sum), then the three global quartiles run as TWO-PHASE
    bucket-cut ranks (``two_phase_global_rank`` — the win_distribution
    machinery): one multi-column quantile pass picks cut points, rows
    bucket by codegen comparisons, and row_number runs per BUCKET with
    broadcast offsets — no single-partition window anywhere, so |users|
    can be billions without one task sorting them all (the old form ran
    three unpartitioned ntile windows; round-3 VERDICT). NTILE(4) is
    then the exact integer closed form of (rank, n). All three
    orderings carry user_id tie-breaks for a total order, making the
    result bit-identical to the oracle's window functions.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    gmax = ev.agg(F.max("ts").alias("gmax"))
    per_user = (
        ev.crossJoin(F.broadcast(gmax))
        .groupBy("user_id")
        .agg(
            F.datediff(F.any_value("gmax"), F.max("ts"))
            .cast("long")
            .alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    # materialize the collapsed frame ONCE: the count probe / quantile
    # pass / rank actions are separate Spark actions, and without this
    # the |events| scan + user shuffle would re-execute per action
    per_user = per_user.localCheckpoint(eager=True)
    n_users = per_user.count()
    if n_users <= RFM_LOCAL_ROWS:
        # SIZE-ADAPTIVE endgame (same rule as graph_kcore_2's local
        # finish): below the bound, one executor-side grouped-map task
        # computes all three quartiles exactly — the entity frame is
        # provably small, and the two-phase path's per-rank exchanges
        # are pure fixed overhead at this size (measured 3.1 s of
        # overhead on a 150-row frame at sf0.1 vs 0.6 s for one task).
        # Ranks/ntiles are integer closed forms over stable sorts, so
        # the result is bit-identical to the oracle's window functions.
        import pandas as pd

        def rfm_local(pdf: pd.DataFrame) -> pd.DataFrame:
            n = len(pdf)

            def ntile4(order_cols, ascending):
                order = pdf.sort_values(
                    order_cols, ascending=ascending, kind="mergesort"
                ).index
                rn = pd.Series(range(1, n + 1), index=order)
                big, rem = n // 4 + 1, n % 4
                tile = rn.where(
                    rn > rem * big,
                    (rn + n // 4) // big,
                )
                if n // 4 > 0:
                    tile = tile.where(
                        rn <= rem * big,
                        rem + (rn - rem * big + n // 4 - 1) // (n // 4),
                    )
                return tile.astype("int32")

            pdf = pdf.copy()
            pdf["r"] = ntile4(["recency_days", "user_id"], [True, True])
            pdf["f"] = ntile4(["frequency", "user_id"], [False, True])
            pdf["m"] = ntile4(["monetary", "user_id"], [False, True])
            return pdf

        return per_user.groupBy(F.lit(0).alias("__g")).applyInPandas(
            rfm_local,
            "user_id long, recency_days long, frequency long, "
            "monetary double, r int, f int, m int",
        )
    # one quantile pass for all three cut sets; cuts only balance the
    # buckets, so loose precision on a collapsed frame is plenty
    n_cuts = max(spark.sparkContext.defaultParallelism, 32) - 1
    qs = [i / (n_cuts + 1) for i in range(1, n_cuts + 1)]
    c_rec, c_frq, c_mon = per_user.stat.approxQuantile(
        ["recency_days", "frequency", "monetary"], qs, 0.01
    )
    ranked = two_phase_global_rank(
        per_user, "recency_days", "user_id", sorted(set(c_rec)),
        rn_name="rn_r", n_name="n",
    )
    ranked = two_phase_global_rank(
        ranked, "frequency", "user_id", sorted(set(c_frq)),
        descending=True, rn_name="rn_f", n_name="n_f",
    )
    ranked = two_phase_global_rank(
        ranked, "monetary", "user_id", sorted(set(c_mon)),
        descending=True, rn_name="rn_m", n_name="n_m",
    )
    return ranked.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        ntile_closed_form("rn_r", "n", 4).alias("r"),
        ntile_closed_form("rn_f", "n", 4).alias("f"),
        ntile_closed_form("rn_m", "n", 4).alias("m"),
    )


@query(
    "events_path_trigrams",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS t1,
               LEAD(event_type, 2) OVER w AS t2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || t1 || '>' || t2 AS path,
           COUNT(*) AS n
    FROM seq
    WHERE t1 IS NOT NULL AND t2 IS NOT NULL
    GROUP BY path
    ORDER BY n DESC, path ASC
    LIMIT 10
    """,
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential path mining: top-10 3-step event paths across users.

    The n-gram generalization of the transition matrix (B140): two LEADs
    over the per-user timeline emit each consecutive triple once, then a
    hash count + top-k heap. One user_id shuffle for the window; the
    count aggregate is map-side combined to |distinct paths| (≤ |types|³)
    rows, so the second exchange is tiny at any scale.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    ).filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "event_type", "t1", "t2").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(10)
    )


@query(
    "events_dau_rolling7",
    oracle="""
    WITH du AS (
        SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT d.day AS day,
           COUNT(DISTINCT u.user_id) FILTER (u.day = d.day) AS dau,
           COUNT(DISTINCT u.user_id) AS wau7
    FROM days d
    JOIN du u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
    """,
)
def events_dau_rolling7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + trailing-7-day actives per day — the
    engagement pair every product dashboard runs.

    Rolling DISTINCT cannot ride an ordinary window frame (distinct is
    not frame-subtractable), so: dedup events to (day, user) ONCE —
    collapsing |events| to at most |days|x|users| — then range-join the
    tiny day grid (broadcast) against the dedup'd frame and count
    distinct per anchor day. The 7x fan-out applies to the COLLAPSED
    frame, never to raw events; at 100 TB that is the difference between
    a dashboard query and a cluster outage.
    """
    ev = table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    days = du.select(F.col("day").alias("anchor")).distinct()
    joined = du.join(
        F.broadcast(days),
        (F.col("day") <= F.col("anchor"))
        & (F.col("day") >= F.col("anchor") - F.expr("INTERVAL 6 DAYS")),
    )
    return (
        joined.groupBy(F.col("anchor").alias("day"))
        .agg(
            F.countDistinct(
                F.when(F.col("day") == F.col("anchor"), F.col("user_id"))
            ).alias("dau"),
            F.countDistinct("user_id").alias("wau7"),
        )
    )


@query(
    "events_session_metrics",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM gaps
    ),
    sessions AS (
        SELECT user_id, session_id, COUNT(*) AS n_events
        FROM islands GROUP BY user_id, session_id
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           MAX(n_events) AS max_session_events
    FROM sessions
    GROUP BY user_id
    """,
)
def events_session_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization metrics via batch ``session_window`` (30-min
    gap): session count, total events, busiest session.

    The first aggregate shuffles on (user, session_window) — Spark merges
    overlapping windows in-state; the second rolls sessions up to users
    REUSING the user_id partitioning (zero extra exchanges). The oracle
    derives identical sessions via gaps-and-islands SQL; equality cannot
    wobble at µs precision (see stream_session).
    """
    ev = table(spark, sf_dir, "events")
    sessions = ev.groupBy(
        F.session_window("ts", "30 minutes"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_session_events"),
    )


@query(
    "events_churned_users",
    oracle="""
    WITH bounds AS (
        SELECT MAX(ts) - INTERVAL 7 DAY AS recent_start,
               MAX(ts) - INTERVAL 14 DAY AS prior_start
        FROM events
    ),
    prior AS (
        SELECT DISTINCT user_id FROM events, bounds
        WHERE ts >= prior_start AND ts < recent_start
    ),
    recent AS (
        SELECT DISTINCT user_id FROM events, bounds
        WHERE ts >= recent_start
    )
    SELECT p.user_id, r.user_id IS NULL AS churned
    FROM prior p LEFT JOIN recent r ON p.user_id = r.user_id
    """,
)
def events_churned_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week churn: users active in the PRIOR 7-day window
    flagged by whether they vanished from the most recent one — the
    retention question every growth dashboard asks.

    Both activity sets collapse to DISTINCT user frames before any join
    (|users|, not |events|); the churn flag is a left join between the
    two collapsed sets. Window bounds are anchored to max(ts), so the op
    is deterministic for a fixed fixture with no wall-clock dependency.
    """
    ev = table(spark, sf_dir, "events")
    hi = ts_bounds(spark, sf_dir)[1]
    recent_start = F.lit(hi) - F.expr("INTERVAL 7 DAYS")
    prior_start = F.lit(hi) - F.expr("INTERVAL 14 DAYS")
    prior = (
        ev.filter((F.col("ts") >= prior_start) & (F.col("ts") < recent_start))
        .select("user_id")
        .distinct()
    )
    recent = (
        ev.filter(F.col("ts") >= recent_start)
        .select(F.col("user_id").alias("r_user"))
        .distinct()
    )
    return prior.join(recent, prior.user_id == F.col("r_user"), "left").select(
        "user_id", F.col("r_user").isNull().alias("churned")
    )


BOT_MIN_EVENTS = 50
BOT_CV_THRESHOLD = 0.6  # coefficient of variation of inter-event gaps


@query(
    "events_bot_detection",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS gap_us
        FROM events
    ),
    stats AS (
        SELECT user_id,
               COUNT(*) + 1 AS n_events,
               AVG(gap_us) AS mean_gap,
               STDDEV_SAMP(gap_us) AS sd_gap
        FROM gaps
        WHERE gap_us IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id,
           n_events,
           ROUND(sd_gap / mean_gap, 4) AS gap_cv,
           n_events >= {BOT_MIN_EVENTS}
               AND sd_gap / mean_gap < {BOT_CV_THRESHOLD} AS bot_suspect
    FROM stats
    """,
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation heuristics per user: high event volume + suspiciously
    REGULAR timing (low coefficient of variation of inter-event gaps) —
    the abuse-filtering signal a training-data pipeline applies before
    user-generated text enters a corpus.

    Gaps come from one lag window (exact integer µs); the per-user stats
    are one aggregate over it. Flag semantics are explicit thresholds, so
    the whole scorecard is oracle-exact (CV rounded 4 dp; the threshold
    comparisons happen on the raw values identically in both engines).
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    micros = F.unix_micros("ts")
    gaps = ev.select(
        "user_id", (micros - F.lag(micros).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    stats = gaps.groupBy("user_id").agg(
        (F.count("*") + 1).alias("n_events"),
        F.avg("gap_us").alias("mean_gap"),
        F.stddev_samp("gap_us").alias("sd_gap"),
    )
    cv = F.col("sd_gap") / F.col("mean_gap")
    return stats.select(
        "user_id",
        "n_events",
        F.round(cv, 4).alias("gap_cv"),
        ((F.col("n_events") >= BOT_MIN_EVENTS) & (cv < BOT_CV_THRESHOLD)).alias(
            "bot_suspect"
        ),
    )


@query(
    "events_ohlc_bars",
    oracle="""
    WITH t AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS bar_day,
               value,
               ROW_NUMBER() OVER (PARTITION BY DATE_TRUNC('day', ts)
                                  ORDER BY ts ASC, event_id ASC)  AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY DATE_TRUNC('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events WHERE event_type = 'purchase'
    )
    SELECT bar_day,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 2) AS open,
           ROUND(MAX(value), 2)                             AS high,
           ROUND(MIN(value), 2)                             AS low,
           ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 2) AS close,
           COUNT(*)                                         AS volume
    FROM t GROUP BY bar_day ORDER BY bar_day
    """,
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B212: daily OHLC candlestick bars over purchase values.

    The financial-resampling shape: open/close are the values at the
    temporal extremes of each bar, high/low the extremes of the value
    itself. ``min_by``/``max_by`` with a (ts, event_id) struct key turn
    "value at earliest/latest row" into ORDINARY one-pass aggregates —
    no window, no second scan; the struct tie-break makes duplicate
    timestamps deterministic. One partial-aggregated shuffle on bar_day
    regardless of scale; at 100 TB the map-side combine reduces each
    partition to |days| rows before the exchange.
    """
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    ordkey = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy(F.date_trunc("day", "ts").alias("bar_day"))
        .agg(
            F.round(F.min_by("value", ordkey), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", ordkey), 2).alias("close"),
            F.count("*").alias("volume"),
        )
        .orderBy("bar_day")
    )


@query(
    "events_new_vs_returning",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, CAST(DATE_TRUNC('day', MIN(ts)) AS TIMESTAMP) AS d0
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT DISTINCT CAST(DATE_TRUNC('day', e.ts) AS TIMESTAMP) AS d,
               e.user_id, f.d0
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT d,
           CAST(COUNT(CASE WHEN d = d0 THEN 1 END) AS BIGINT) AS new_users,
           CAST(COUNT(CASE WHEN d <> d0 THEN 1 END) AS BIGINT)
               AS returning_users
    FROM daily GROUP BY d ORDER BY d
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily NEW vs RETURNING active users — the growth-accounting split
    every product dashboard leads with: a user is "new" only on their
    first-ever active day.

    (day, user) pairs collapse to distinct FIRST (the same dedup-early
    discipline as the churn/DAU ops), first-seen day is a per-user MIN
    re-joined on user_id — both frames hash-partition on user_id so the
    join adds no exchange beyond the two aggregations; the daily rollup
    is |days × active users| rows in, |days| out.
    """
    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("d0")
    )
    daily = (
        e.select(F.date_trunc("day", "ts").alias("d"), "user_id")
        .distinct()
        .join(first_seen, "user_id")
    )
    return (
        daily.groupBy("d")
        .agg(
            F.sum((F.col("d") == F.col("d0")).cast("long")).cast("bigint").alias(
                "new_users"
            ),
            F.sum((F.col("d") != F.col("d0")).cast("long")).cast("bigint").alias(
                "returning_users"
            ),
        )
        .orderBy("d")
    )


DEBOUNCE_MIN = 30  # suppression window, minutes


@query(
    "events_alert_debounce",
    oracle=f"""
    WITH errs AS (
        SELECT user_id, ts, event_id,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events WHERE event_type = 'error'
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_errors,
           CAST(COUNT(CASE WHEN prev_ts IS NULL
                           OR ts - prev_ts > INTERVAL {DEBOUNCE_MIN} MINUTE
                      THEN 1 END) AS BIGINT) AS n_alerts
    FROM errs GROUP BY user_id ORDER BY user_id
    """,
)
def events_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert DEBOUNCE: an error fires an alert only if the same user's
    previous error is more than {DEBOUNCE_MIN} minutes old — the
    storm-collapse rule every paging pipeline applies between detection
    and notification (N raw errors → few actionable alerts).

    One lag window per user (exact µs comparison), one rollup — both on
    the user_id shuffle. Streaming deployment is the same logic in
    ``applyInPandasWithState`` (kept batch-side here so the alert set
    is exactly oracle-checkable).
    """
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    fires = F.lag("ts").over(w).isNull() | (
        gap_us > DEBOUNCE_MIN * 60 * 1_000_000
    )
    errs = e.select("user_id", fires.alias("fires"))
    return (
        errs.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_errors"),
            F.sum(F.col("fires").cast("long")).cast("bigint").alias("n_alerts"),
        )
        .orderBy("user_id")
    )


@query(
    "events_conversion_latency",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_buy
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    lat AS (
        SELECT epoch_us(p.t_buy) - epoch_us(v.t_view) AS us
        FROM p JOIN v ON p.user_id = v.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY us) AS BIGINT)
               AS p50_us,
           CAST(PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY us) AS BIGINT)
               AS p90_us,
           MAX(us) AS max_us
    FROM lat
    """,
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion LATENCY distribution: first view → first subsequent
    purchase per user, summarized as discrete percentiles — the
    time-to-convert health metric behind every funnel (the funnel op
    counts WHO converts; this measures HOW LONG it takes).

    Latencies are exact integer microseconds; PERCENTILE_DISC picks
    order statistics (no interpolation → no float divergence). Two
    user_id-aligned aggregates reuse one partitioning; the final
    summary collapses |converted users| rows to one.
    """
    e = table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    lat = p.join(v, "user_id").select(
        (F.unix_micros("t_buy") - F.unix_micros("t_view")).alias("us")
    )
    return lat.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.percentile_approx("us", 0.5, 2147483647).cast("bigint").alias("p50_us"),
        F.percentile_approx("us", 0.9, 2147483647).cast("bigint").alias("p90_us"),
        F.max("us").alias("max_us"),
    )


@query(
    "events_cohort_ltv",
    oracle="""
    WITH first_seen AS (
        SELECT user_id,
               CAST(DATE_TRUNC('week', MIN(ts)) AS TIMESTAMP) AS cohort_w
        FROM events GROUP BY user_id
    ),
    weekly AS (
        SELECT f.cohort_w,
               DATE_DIFF('day', f.cohort_w,
                         CAST(DATE_TRUNC('week', e.ts) AS TIMESTAMP)) // 7
                   AS week_n,
               SUM(CAST(e.value AS DECIMAL(18,2))) AS rev
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
    ),
    sized AS (
        SELECT cohort_w, COUNT(*) AS cohort_users FROM first_seen GROUP BY 1
    )
    SELECT m.cohort_w, m.week_n,
           CAST(s.cohort_users AS BIGINT) AS cohort_users,
           CAST(SUM(m.rev) OVER (PARTITION BY m.cohort_w ORDER BY m.week_n)
                AS DOUBLE) AS cum_revenue,
           ROUND(CAST(SUM(m.rev) OVER (PARTITION BY m.cohort_w
                                       ORDER BY m.week_n) AS DOUBLE)
                 / s.cohort_users, 4) AS ltv_per_user
    FROM weekly m JOIN sized s ON m.cohort_w = s.cohort_w
    ORDER BY m.cohort_w, m.week_n
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LIFETIME-VALUE curves: cumulative purchase revenue per
    signup-week cohort, normalized per cohort member — the
    revenue-weighted twin of the retention matrix (retention counts who
    comes back; LTV prices it), and the payback-period input for
    acquisition spend.

    Revenue collapses to the |cohorts × months| frame FIRST (exact
    decimal sums), so the cumulative window and the per-user division
    run on a tiny frame; cohort sizes broadcast in. Divisions happen
    once per output row on already-exact sums, rounded 4 dp.
    """
    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_w")
    )
    weekly = (
        e.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_w",
            F.expr(
                "datediff(date_trunc('week', ts), cohort_w) div 7"
            ).cast("bigint").alias("week_n"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("rev"))
    )
    sized = first_seen.groupBy("cohort_w").agg(
        F.count("*").alias("cohort_users")
    )
    w = Window.partitionBy("cohort_w").orderBy("week_n")
    cum = F.sum("rev").over(w).cast("double")
    return (
        weekly.join(F.broadcast(sized), "cohort_w")
        .select(
            "cohort_w",
            "week_n",
            F.col("cohort_users").cast("bigint").alias("cohort_users"),
            cum.alias("cum_revenue"),
            F.round(cum / F.col("cohort_users"), 4).alias("ltv_per_user"),
        )
        .orderBy("cohort_w", "week_n")
    )


@query(
    "events_stickiness_ratio",
    oracle="""
    WITH dau AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d,
               COUNT(DISTINCT user_id) AS dau
        FROM events GROUP BY 1
    ),
    wau AS (
        SELECT CAST(DATE_TRUNC('week', ts) AS TIMESTAMP) AS w,
               COUNT(DISTINCT user_id) AS wau
        FROM events GROUP BY 1
    )
    SELECT w.w AS week_start,
           CAST(w.wau AS BIGINT) AS wau,
           CAST(SUM(d.dau) AS BIGINT) AS dau_sum,
           ROUND(CAST(SUM(d.dau) AS DOUBLE)
                 / COUNT(*) / w.wau, 4) AS stickiness
    FROM dau d
    JOIN wau w ON CAST(DATE_TRUNC('week', d.d) AS TIMESTAMP) = w.w
    GROUP BY w.w, w.wau ORDER BY w.w
    """,
)
def events_stickiness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STICKINESS (avg DAU / WAU) per week — the engagement-frequency
    ratio product teams track next to raw actives: 1.0 means every
    weekly user shows up daily, ~0.14 means once a week.

    Two distinct-collapse aggregates (day grain, week grain) on the
    same scan; the join aligns |days| rows to |weeks| rows, so every
    post-collapse step is metric-frame-sized. The ratio divides two
    exact integers once per output row, rounded 4 dp.
    """
    e = table(spark, sf_dir, "events")
    dau = e.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    wau = e.groupBy(F.date_trunc("week", "ts").alias("w")).agg(
        F.count_distinct("user_id").alias("wau")
    )
    j = dau.join(
        F.broadcast(wau), F.date_trunc("week", F.col("d")) == F.col("w")
    )
    return (
        j.groupBy("w", "wau")
        .agg(
            F.sum("dau").cast("bigint").alias("dau_sum"),
            F.count("*").alias("n_days"),
        )
        .select(
            F.col("w").alias("week_start"),
            F.col("wau").cast("bigint").alias("wau"),
            "dau_sum",
            F.round(
                F.col("dau_sum").cast("double") / F.col("n_days") / F.col("wau"),
                4,
            ).alias("stickiness"),
        )
        .orderBy("week_start")
    )


@query(
    "orders_forecast_naive_eval",
    oracle="""
    WITH monthly AS (
        SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS m,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1
    ),
    scored AS (
        SELECT m, rev,
               LAG(rev, 12) OVER (ORDER BY m) AS forecast
        FROM monthly
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_months,
           CAST(SUM(ABS(rev - forecast)) AS DOUBLE) AS mae_total,
           ROUND(CAST(SUM(ABS(rev - forecast)) AS DOUBLE)
                 / CAST(SUM(rev) AS DOUBLE), 4) AS wape
    FROM scored WHERE forecast IS NOT NULL
    """,
)
def orders_forecast_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive FORECAST BACKTEST: predict each month's revenue
    with the same month last year (lag 12 on the monthly frame) and
    score MAE + WAPE over every evaluable month — the baseline any
    forecasting pipeline must beat, and the op that defines the
    backtest harness shape (point-in-time-correct features via lag,
    error rollup).

    The fact table collapses to |months| rows first; the lag window and
    scoring run on that frame. Errors are exact decimal differences;
    WAPE (not MAPE) keeps the denominator a single exact sum — one
    division in the whole op, rounded 4 dp.
    """
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.orderBy("m")
    scored = monthly.withColumn("forecast", F.lag("rev", 12).over(w)).filter(
        F.col("forecast").isNotNull()
    )
    abs_err = F.abs(F.col("rev") - F.col("forecast"))
    return scored.agg(
        F.count("*").cast("bigint").alias("n_eval_months"),
        F.sum(abs_err).cast("double").alias("mae_total"),
        F.round(
            F.sum(abs_err).cast("double") / F.sum("rev").cast("double"), 4
        ).alias("wape"),
    )


@query(
    "events_peak_detection",
    oracle="""
    WITH daily AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d,
               COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    flagged AS (
        SELECT d, n,
               LAG(n) OVER (ORDER BY d) AS prev_n,
               LEAD(n) OVER (ORDER BY d) AS next_n
        FROM daily
    )
    SELECT d, CAST(n AS BIGINT) AS n_events
    FROM flagged
    WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
      AND n > prev_n AND n > next_n
    ORDER BY d
    """,
)
def events_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum PEAK detection on the daily event series: days
    strictly busier than both neighbors (endpoints excluded) — the
    signal primitive under spike alerts and campaign-impact eyeballing;
    thresholded variants (prominence, z-score) bolt onto the same
    lag/lead frame (the z-score one is ``events_zscore_anomaly``).

    The fact table collapses to |days| first; lag/lead run on the tiny
    metric frame (unpartitioned window over |days| rows — entity-
    bounded, the documented exception class).
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count("*").alias("n")
    )
    w = Window.orderBy("d")
    flagged = daily.select(
        "d",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        F.lead("n").over(w).alias("next_n"),
    )
    return (
        flagged.filter(
            F.col("prev_n").isNotNull()
            & F.col("next_n").isNotNull()
            & (F.col("n") > F.col("prev_n"))
            & (F.col("n") > F.col("next_n"))
        )
        .select("d", F.col("n").cast("bigint").alias("n_events"))
        .orderBy("d")
    )


FUNNEL_WINDOW_DAYS = 3  # max allowed gap between consecutive stages


@query(
    "events_funnel_windowed",
    oracle=f"""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
          AND e.ts <= s1.t1 + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          AND e.ts <= s2.t2 + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS users_viewed,
           (SELECT COUNT(*) FROM s2) AS users_clicked_in_window,
           (SELECT COUNT(*) FROM s3) AS users_purchased_in_window
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with CONVERSION WINDOWS: each stage counts only within
    {FUNNEL_WINDOW_DAYS} days of the previous stage's first touch —
    the attribution-honest funnel (an unbounded funnel credits a click
    months later; windowed is what growth teams actually report).

    Same one-scan three-stage plan as ``events_funnel``; the window
    bound is one extra pushed conjunct per stage — no plan change, very
    different numbers (the gap between the two ops IS the long-tail
    conversion mass).
    """
    e = table(spark, sf_dir, "events")
    win = F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAYS")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count("*").alias("users_viewed"))
        .crossJoin(s2.agg(F.count("*").alias("users_clicked_in_window")))
        .crossJoin(s3.agg(F.count("*").alias("users_purchased_in_window")))
    )


@query(
    "events_behavior_mix",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, COUNT(*) AS c
        FROM events GROUP BY user_id, event_type
    ),
    mix AS (
        SELECT user_id,
               SUM(c) AS n_events,
               COUNT(*) AS n_types,
               1.0 - CAST(SUM(c * c) AS DOUBLE) / (SUM(c) * SUM(c))
                   AS mix_impurity
        FROM counts GROUP BY user_id
    )
    SELECT n_types,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(mix_impurity), 4) AS avg_impurity
    FROM mix GROUP BY n_types ORDER BY n_types
    """,
)
def events_behavior_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-mix diversity: per-user Gini impurity of the event-type
    distribution (0 = does one thing, →1 = spread across all types),
    rolled up by how many distinct types a user touches — the behavioral
    segmentation input (single-action bots sit at impurity 0 with high
    volume; engaged users spread).

    Same exact-rational impurity discipline as ``text_char_diversity``
    (Σc²/(Σc)² on integers, one double division per user). Two
    user_id-hashed aggregates; the final rollup is |type-counts| rows.
    The AVG over per-user doubles is the one float accumulation — over
    ≤ 5-value impurities per group, absorbed by the 4 dp round.
    """
    e = table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    mix = counts.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count("*").alias("n_types"),
        (
            F.lit(1.0)
            - F.sum(F.col("c") * F.col("c")).cast("double")
            / (F.sum("c") * F.sum("c"))
        ).alias("mix_impurity"),
    )
    return (
        mix.groupBy("n_types")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.round(F.avg("mix_impurity"), 4).alias("avg_impurity"),
        )
        .orderBy("n_types")
    )


@query(
    "orders_interarrival_stats",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               DATE_DIFF('day',
                   LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_days
        FROM orders
    )
    SELECT o_custkey,
           CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
           CAST(SUM(gap_days) AS BIGINT) AS total_gap_days,
           MAX(gap_days) AS max_gap_days
    FROM gaps
    WHERE o_custkey < 80
    GROUP BY o_custkey
    HAVING COUNT(gap_days) > 0
    ORDER BY o_custkey
    """,
)
def orders_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order INTER-ARRIVAL profile per customer: count/total/max of the
    day gaps between consecutive orders — the purchase-cadence feature
    set behind replenishment prediction and churn risk (a gap far above
    a customer's own max is the classic churn trigger; cf. the
    population-level week view in ``events_churned_users``).

    One lag window per customer (deterministic (date, key) ordering),
    one rollup — both riding a single custkey shuffle; exact integer
    day arithmetic end to end.
    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias(
            "gap_days"
        ),
    ).filter(F.col("o_custkey") < 80)
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("gap_days").cast("bigint").alias("n_gaps"),
            F.sum("gap_days").cast("bigint").alias("total_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
        .filter(F.col("n_gaps") > 0)
        .orderBy("o_custkey")
    )


@query(
    "events_session_type_pairs",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
        SELECT user_id, event_type,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM gaps
    ),
    baskets AS (
        SELECT user_id, sid, list_sort(list_distinct(list(event_type))) AS types
        FROM sess GROUP BY user_id, sid
    ),
    pairs AS (
        SELECT UNNEST(flatten(list_transform(types,
                   (x, i) -> list_transform(types[i+1:],
                       y -> {'a': x, 'b': y})))) AS p
        FROM baskets
    )
    SELECT p.a AS type_a, p.b AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM pairs GROUP BY 1, 2 ORDER BY n_sessions DESC, type_a, type_b
    """,
)
def events_session_type_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type CO-OCCURRENCE within sessions: for each 30-minute-gap
    session, which behavior pairs happen together — the association
    signal behind "users who search also purchase" product analysis
    (market-basket machinery applied to sessions instead of orders).

    Sessionization is the gaps-islands labeling (one user_id shuffle
    shared by the lag window, the running sum, and the session
    collapse); pairs generate INSIDE each session's sorted distinct
    type array — no self-join, so event volume per session never
    quadratically multiplies (max pairs/session = C(|types|,2) ≤ 10).
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_s = (
        F.lag("ts").over(w).isNull() | (gap_us > 30 * 60 * 1_000_000)
    ).cast("long")
    sess = e.select("user_id", "ts", "event_type", new_s.alias("new_s"))
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = sess.withColumn("sid", F.sum("new_s").over(w_run))
    baskets = sess.groupBy("user_id", "sid").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    ids = F.col("types")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("type_a"), y.alias("type_b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select("p.*")
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "type_a", "type_b")
    )


@query(
    "events_hourly_seasonality",
    oracle="""
    WITH cells AS (
        SELECT CAST((CAST(ts AS DATE) - DATE '1970-01-05') % 7 AS INT) AS dow,
               CAST(hour(ts) AS INT) AS hr,
               COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
    )
    SELECT dow, hr, n,
           CAST(n AS DOUBLE) / SUM(n) OVER () AS share
    FROM cells
    """,
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality profile: the (day-of-week x hour-of-day)
    activity matrix with each cell's share of total volume — the load
    heat-map behind capacity planning and anomaly baselines.

    Day-of-week is days-since-a-known-Monday mod 7 (0 = Monday) instead
    of the engines' dayofweek builtins, whose origin conventions differ
    (Spark: Sunday=1; DuckDB: Sunday=0). One partial-aggregated pass
    collapses the stream to <= 168 cells; the share window runs on that
    frame only. Shares are exact int/int rationals in double.
    """
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-05') % 7 AS INT)"
        ).alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy()
    return cells.select(
        "dow",
        "hr",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w)).alias("share"),
    )


ECDF_PROBES = (0.5, 1.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0, 200.0, 500.0)


@query(
    "events_value_ecdf",
    oracle=f"""
    WITH probes AS (SELECT UNNEST({list(ECDF_PROBES)}) AS p),
    base AS (SELECT COUNT(*) AS n_total FROM events),
    le AS (
        SELECT p.p, COUNT(*) FILTER (e.value <= p.p) AS n_le
        FROM events e CROSS JOIN probes p
        GROUP BY p.p
    )
    SELECT p, n_le, n_total,
           CAST(n_le AS DOUBLE) / n_total AS cdf
    FROM le CROSS JOIN base
    """,
)
def events_value_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical CDF of event value at fixed probe points — the
    monitoring-friendly distribution summary (fixed probes make
    snapshots comparable across days, unlike quantiles whose positions
    move with the data). Exact int/int rationals at every probe.

    Plan: ONE scan with one conditional counter per probe (a
    10-counter map-side-combined aggregate), then an unpivot of the
    1-row result — the oracle's probe cross join reads more naturally
    in SQL but multiplies the scan 10×; the counter form is the 100 TB
    shape.
    """
    ev = table(spark, sf_dir, "events")
    one = ev.agg(
        F.count("*").alias("n_total"),
        *[
            F.sum((F.col("value") <= F.lit(p)).cast("long")).alias(f"le_{i}")
            for i, p in enumerate(ECDF_PROBES)
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(p).alias("p"), F.col(f"le_{i}").alias("n_le")
            )
            for i, p in enumerate(ECDF_PROBES)
        ]
    )
    return one.select(
        F.explode(pairs).alias("x"), "n_total"
    ).select(
        "x.p",
        "x.n_le",
        "n_total",
        (F.col("x.n_le").cast("double") / F.col("n_total")).alias("cdf"),
    )


@query(
    "orders_yoy_growth",
    oracle="""
    WITH yearly AS (
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders
        GROUP BY 1
    )
    SELECT o_year, revenue,
           ROUND((revenue - prev) / prev, 6) AS yoy_growth
    FROM (
        SELECT o_year, revenue,
               LAG(revenue) OVER (ORDER BY o_year) AS prev
        FROM yearly
    )
    """,
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth: exact DECIMAL yearly sums, then a
    lag window over the |years|-row frame only (never the fact table —
    the agg-first discipline); growth is one double division per year
    row from expression text shared with the oracle. First year's
    growth is NULL on both engines.
    """
    o = table(spark, sf_dir, "orders")
    yearly = o.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    w = Window.orderBy("o_year")
    return (
        yearly.withColumn("prev", F.lag("revenue").over(w))
        .select(
            "o_year",
            "revenue",
            F.expr("ROUND((revenue - prev) / prev, 6)").alias("yoy_growth"),
        )
    )


_AB_Z = (
    "ROUND((pb - pa) / SQRT(pp * (1 - pp) * (1.0 / na + 1.0 / nb)), 6)"
)


@query(
    "events_ab_lift",
    oracle=f"""
    WITH users AS (
        SELECT user_id,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6))::BIGINT
                   % 2 AS variant,
               MAX(CASE WHEN event_type = 'purchase' AND value > 200
                        THEN 1 ELSE 0 END) AS converted
        FROM events
        GROUP BY user_id
    ),
    cells AS (
        SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS na,
               CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb,
               CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END)
                   AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END)
                   AS BIGINT) AS cb
        FROM users
    )
    SELECT na, nb, ca, cb,
           ROUND((CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na)
                 / (CAST(ca AS DOUBLE) / na), 6) AS lift,
           {_AB_Z} AS z_score
    FROM (
        SELECT na, nb, ca, cb,
               CAST(ca AS DOUBLE) / na AS pa,
               CAST(cb AS DOUBLE) / nb AS pb,
               CAST(ca + cb AS DOUBLE) / (na + nb) AS pp
        FROM cells
    )
    """,
)
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users assigned to variants by an IDENTITY
    HASH (md5 of user_id, mod 2 — the same deterministic bucketing a
    real experimentation platform uses, so a user's variant never flips
    between sessions or engines), conversion = any purchase above 200
    (~20% of users — a saturated metric would zero the pooled variance
    and the z-score with it); lift and the two-proportion z-score from
    pooled variance.

    Per-user conversion is one hash aggregate; the 2×2 cell counts are
    a second 1-row aggregate; lift/z evaluate from expression text
    shared with the oracle on exact integer counts — deterministic to
    the 6-dp rounding. Scale: user-cardinality shuffle once, then bytes.
    """
    ev = table(spark, sf_dir, "events")
    variant = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10
        ).cast("bigint")
        % 2
    )
    users = ev.groupBy("user_id").agg(
        F.max(
            ((F.col("event_type") == "purchase") & (F.col("value") > 200))
            .cast("int")
        ).alias("converted")
    ).select(variant.alias("variant"), "converted")
    cells = users.agg(
        F.sum((F.col("variant") == 0).cast("long")).alias("na"),
        F.sum((F.col("variant") == 1).cast("long")).alias("nb"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    rates = cells.select(
        "na",
        "nb",
        "ca",
        "cb",
        F.expr("CAST(ca AS DOUBLE) / na").alias("pa"),
        F.expr("CAST(cb AS DOUBLE) / nb").alias("pb"),
        F.expr("CAST(ca + cb AS DOUBLE) / (na + nb)").alias("pp"),
    )
    return rates.select(
        "na",
        "nb",
        "ca",
        "cb",
        F.expr(
            "ROUND((CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na)"
            " / (CAST(ca AS DOUBLE) / na), 6)"
        ).alias("lift"),
        F.expr(_AB_Z).alias("z_score"),
    )


_CUSUM_MEAN = "CAST(s1 AS DOUBLE) / n"
_CUSUM_SD = (
    f"SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * ({_CUSUM_MEAN}))"
    f" / (n - 1))"
)


def _cusum_kernel(key, pdf):
    """applyInPandas kernel: sequential CUSUM over one priority's daily
    revenue series, run ENTIRELY IN INTEGERS. With the recursion scaled
    by 100·n (T = 100·n·S in cents·n units), the update is
    T ← max(0, T + (n·xc − s1c)) — exact int64 arithmetic, mirrored op
    for op by the oracle's recursive CTE, so there is no float drift to
    round away. Only the alarm compare touches a double (the sd-based
    threshold), from expression text shared with the oracle."""
    import pandas as pd

    rows = pdf.sort_values("d")
    n = int(rows["n"].iloc[0])
    s1c = int(rows["s1c"].iloc[0])
    ac = int(rows["ac"].iloc[0])
    h = float(rows["h"].iloc[0])
    thresh = n * h
    t = 0
    out_d, out_t = [], []
    for d, xc in zip(rows["d"], rows["xc"]):
        t = max(0, t + (n * int(xc) - s1c - n * ac))
        if t > thresh:
            out_d.append(d)
            out_t.append(t)
    # explicit dtypes: an empty python list would infer float64 and the
    # Arrow writer cannot cast that to date32
    return pd.DataFrame(
        {
            "grp": pd.Series([key[0]] * len(out_t), dtype="object"),
            "d": pd.Series(out_d, dtype="object"),
            "t_units": pd.Series(out_t, dtype="int64"),
            "n": pd.Series([n] * len(out_t), dtype="int64"),
        }
    )


@query(
    "timeseries_cusum_alarm",
    oracle=f"""
    WITH RECURSIVE cut0 AS (
        SELECT MAX(o_orderdate) - INTERVAL 180 DAY AS lo FROM orders
    ),
    daily AS (
        SELECT o_orderpriority AS grp,
               CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS xc
        FROM orders
        WHERE o_orderdate >= (SELECT lo FROM cut0)
        GROUP BY 1, 2
    ),
    seq AS (
        SELECT grp, d, xc,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY d) AS rn
        FROM daily
    ),
    stats AS (
        SELECT grp, COUNT(*) AS n,
               CAST(SUM(xc) AS BIGINT) AS s1,
               SUM(CAST(xc AS DECIMAL(18,0)) * CAST(xc AS DECIMAL(18,0)))
                   AS s2
        FROM daily GROUP BY grp
    ),
    kh AS (
        SELECT grp, n, s1 AS s1c,
               CAST(ROUND(({_CUSUM_SD}) / 2, 0) AS BIGINT) AS ac,
               5 * ({_CUSUM_SD}) AS h
        FROM stats
    ),
    cus AS (
        SELECT s.grp, s.rn, s.d,
               GREATEST(0, kh.n * s.xc - kh.s1c - kh.n * kh.ac) AS t
        FROM seq s JOIN kh ON s.grp = kh.grp
        WHERE s.rn = 1
        UNION ALL
        SELECT s.grp, s.rn, s.d,
               GREATEST(0, c.t + (kh.n * s.xc - kh.s1c - kh.n * kh.ac)) AS t
        FROM cus c
        JOIN seq s ON s.grp = c.grp AND s.rn = c.rn + 1
        JOIN kh ON s.grp = kh.grp
    )
    SELECT c.grp, CAST(c.d AS TIMESTAMP) AS d,
           CAST(c.t AS BIGINT) AS t_units,
           CAST(kh.n AS BIGINT) AS n
    FROM cus c JOIN kh ON c.grp = kh.grp
    WHERE CAST(c.t AS DOUBLE) > kh.n * kh.h
    """,
)
def timeseries_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM control chart over daily revenue per priority class: the
    classic sequential drift detector S_t = max(0, S_{t-1} + (x_t − k))
    with allowance k = mean + sd/2 and alarm threshold h = 5·sd (the
    textbook parameterization), over a 180-day tail window — emits the
    days where accumulated above-mean drift trips the alarm.

    The recursion is inherently sequential PER SERIES, so it runs as an
    ``applyInPandas`` kernel partitioned by series (state: one integer;
    work bounded by days-per-series; series scale out across executors —
    the standard shape for per-entity recurrences Spark windows cannot
    express). Exactness: multiplying the recursion through by 100·n
    turns it into pure int64 arithmetic on exact cent sums
    (T = n·S_cents; update n·xc − s1c) — a double-valued recursion was
    measured to drift one ulp from the oracle's CTE after ~2600 steps
    and flip a 4-dp rounding, so the state NEVER touches floats; only
    the alarm threshold (2·sd, from exact DECIMAL sums via shared
    expression text, in CENTS so no decimal division ever happens —
    DuckDB's ``/`` on DECIMAL silently returns DOUBLE) is a double,
    used in a single compare. Emitted t_units = n·S_cents exactly;
    consumers divide by 100·n when displaying dollars.
    """
    o = table(spark, sf_dir, "orders")
    # deterministic 180-day tail window: the recursion depth (and the
    # oracle's recursive-CTE cost, which is O(levels) JOIN passes) stays
    # bounded; the cutoff collects as ONE scalar so it pushes into the
    # scan as a pruning literal
    lo = o.agg(
        (F.max("o_orderdate") - F.expr("INTERVAL 180 DAY")).alias("lo")
    ).collect()[0]["lo"]
    o = o.filter(F.col("o_orderdate") >= F.lit(lo))
    daily = o.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("xc")
    )
    dc = F.col("xc").cast("decimal(18,0)")
    stats = daily.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("xc").alias("s1"),
        F.sum(dc * dc).alias("s2"),
    )
    kh = stats.select(
        "grp",
        "n",
        F.col("s1").alias("s1c"),
        F.expr(f"CAST(ROUND(({_CUSUM_SD}) / 2, 0) AS BIGINT)").alias("ac"),
        F.expr(f"5 * ({_CUSUM_SD})").alias("h"),
    )
    joined = daily.join(F.broadcast(kh), "grp")
    return joined.groupBy("grp").applyInPandas(
        _cusum_kernel, "grp string, d date, t_units bigint, n bigint"
    ).select(
        "grp",
        F.col("d").cast("timestamp").alias("d"),
        "t_units",
        "n",
    )


@query(
    "events_first_purchase_rank",
    oracle="""
    WITH ranked AS (
        SELECT user_id, CAST(ts AS DATE) AS d, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS pos
        FROM events
    ),
    firsts AS (
        SELECT user_id, d, MIN(pos) AS first_pos
        FROM ranked WHERE event_type = 'purchase'
        GROUP BY user_id, d
    )
    SELECT CAST(first_pos AS INT) AS pos, COUNT(*) AS n_sessions
    FROM firsts
    GROUP BY 1
    """,
)
def events_first_purchase_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search/feed-quality metric: at which position within a (user, day)
    session does the first purchase happen — the rank distribution
    behind MRR (MRR = Σ n_sessions[p]/p over this table; the division
    is deferred to the consumer so the stored metric stays an exact
    integer distribution, comparable across engines and days).

    One (user, day) window ranks events, a min-aggregate finds the first
    conversion, a second tiny aggregate builds the distribution — all in
    one entity-keyed shuffle.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy(
        "ts", "event_id"
    )
    ranked = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        "event_type",
        F.row_number().over(w).alias("pos"),
    )
    firsts = (
        ranked.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "d")
        .agg(F.min("pos").alias("first_pos"))
    )
    return firsts.groupBy(F.col("first_pos").cast("int").alias("pos")).agg(
        F.count("*").alias("n_sessions")
    )


# _cusum_kernel runs worker-side: serialize this module BY VALUE so the
# kernel deserializes under any driver (see serde.py).
from dataengineeringutils_spark.serde import pickle_module_by_value  # noqa: E402

pickle_module_by_value(__name__)


@query(
    "events_fano_factor",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
        FROM events
        GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(c) AS BIGINT) AS s1,
               CAST(SUM(c * c) AS BIGINT) AS s2
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND((CAST(s2 AS DOUBLE) / n
                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                 / (CAST(s1 AS DOUBLE) / n), 6) AS fano
    FROM m
    """,
)
def events_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness audit: the Fano factor (variance/mean of daily counts)
    per event stream — 1 means Poisson-like arrivals, >1 bursty, <1
    regular; the scheduling/capacity signal behind anomaly thresholds.

    Daily counts are exact integers, the moment sums int64 (order-
    independent), and the variance/mean arithmetic evaluates from
    expression text shared with the oracle — deterministic at 6 dp.
    Two map-side-combined aggregates, nothing else.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("c"))
    m = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.expr("c * c")).alias("s2"),
    )
    return m.select(
        "event_type",
        "n",
        F.expr(
            "ROUND((CAST(s2 AS DOUBLE) / n"
            " - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))"
            " / (CAST(s1 AS DOUBLE) / n), 6)"
        ).alias("fano"),
    )


@query(
    "events_user_entropy",
    oracle="""
    WITH pc AS (
        SELECT user_id, event_type, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    ut AS (
        SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
               COUNT(*) AS n_types
        FROM pc GROUP BY 1
    )
    SELECT p.user_id, u.n_events, u.n_types,
           ROUND(SUM(-(CAST(p.c AS DOUBLE) / u.n_events)
                     * log2(CAST(p.c AS DOUBLE) / u.n_events)), 4) AS entropy
    FROM pc p JOIN ut u USING (user_id)
    GROUP BY 1, 2, 3
    """,
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity score: Shannon entropy of each user's
    event-type distribution — 0 for single-behavior users, log2(k) for
    uniform k-type users; the standard bot/power-user separator feature
    and a staple of engagement segmentation.

    One shuffle builds the (user, type) counts; the per-user totals come
    from a window over the SAME user partitioning (no second exchange),
    and the entropy sum groups back to users within it. Counts are exact
    integers; the -p*log2(p) terms sum per user from expression text
    shared with the oracle (≤ |event types| terms, order-stable at 4 dp).
    """
    ev = table(spark, sf_dir, "events")
    pc = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    w = Window.partitionBy("user_id")
    pc = pc.withColumn("n_events", F.sum("c").over(w).cast("bigint")).withColumn(
        "n_types", F.count("*").over(w)
    )
    return pc.groupBy("user_id", "n_events", "n_types").agg(
        F.round(
            F.sum(
                F.expr(
                    "-(CAST(c AS DOUBLE) / n_events)"
                    " * log2(CAST(c AS DOUBLE) / n_events)"
                )
            ),
            4,
        ).alias("entropy")
    )


@query(
    "events_props_numeric_profile",
    oracle="""
    WITH x AS (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS INT) AS k
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           MIN(k) AS min_k,
           MAX(k) AS max_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           ROUND(quantile_cont(k, 0.5), 4) AS med_k
    FROM x GROUP BY 1
    """,
)
def events_props_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured property profiling: extract the numeric ``k``
    field from the JSON ``props`` column and profile it per event type
    (count / null-count / min / max / sum / exact median) — the
    first-look query every team runs on a new event property before
    promoting it to a typed column.

    ``get_json_object`` evaluates inside codegen on the scan (one pass,
    no UDF); min/max/sum are exact integers and the median is the
    shared linear-interpolation definition (Spark ``percentile`` ==
    DuckDB ``quantile_cont``), rounded to 4 dp. At 100 TB the profile
    is one scan + one |event types|-row aggregate; promoting k to a
    parquet column would then push these stats into footer metadata.
    """
    ev = table(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    return x.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count("k").cast("bigint").alias("n_with_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.round(F.expr("percentile(k, 0.5)"), 4).alias("med_k"),
    )


@query(
    "surv_kaplan_meier",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(ts) AS first_ts,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS conv_ts
        FROM events GROUP BY user_id
    ),
    horizon AS (SELECT MAX(CAST(ts AS DATE)) AS hmax FROM events),
    durs AS (
        SELECT user_id,
               CASE WHEN conv_ts IS NOT NULL
                    THEN date_diff('day', CAST(first_ts AS DATE),
                                   CAST(conv_ts AS DATE))
                    ELSE date_diff('day', CAST(first_ts AS DATE),
                                   (SELECT hmax FROM horizon))
               END AS t,
               (conv_ts IS NOT NULL) AS observed
        FROM per_user
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0 FROM durs),
    ev_days AS (
        SELECT t,
               CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS removed
        FROM durs GROUP BY t
    ),
    risk AS (
        SELECT t, d,
               (SELECT n0 FROM tot)
                 - COALESCE(SUM(removed) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n
        FROM ev_days
    ),
    km AS (
        SELECT t, d, n,
               SUM(CASE WHEN d = n THEN 1 ELSE 0 END)
                   OVER (ORDER BY t) AS dead,
               SUM(CASE WHEN d < n THEN ln(1.0 - CAST(d AS DOUBLE) / n)
                        ELSE 0.0 END)
                   OVER (ORDER BY t) AS lnsum
        FROM risk WHERE d > 0
    )
    SELECT t, d, n,
           CASE WHEN dead > 0 THEN 0.0
                ELSE ROUND(exp(lnsum), 4) END AS survival
    FROM km
    """,
)
def surv_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-purchase: per user,
    duration = days from first event to first purchase (censored at the
    data horizon when no purchase exists), then the product-limit
    estimator S(t) = Π_{t_i ≤ t} (1 - d_i / n_i) over conversion days —
    THE standard right-censored time-to-event analysis (churn, failure,
    conversion), done at corpus scale without sampling.

    Shape: one user_id aggregate (first/conversion timestamps), a
    |distinct days|-row frame for d_i/removals, a running at-risk count
    and a running Σ ln(1 - d/n) window — the product becomes a sum so
    the curve is one cumulative window, not a recursive product. A day
    where d = n drives S to exactly 0 (flagged via a running counter;
    ln(0) would be -inf/NULL and engine-divergent). Exact integer d/n;
    4-dp survival from expression text shared with the oracle.
    """
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "conv_ts"
        ),
    )
    hmax = F.lit(ts_bounds(spark, sf_dir)[1].date())
    durs = per_user.select(
        F.when(
            F.col("conv_ts").isNotNull(),
            F.datediff(F.col("conv_ts").cast("date"), F.col("first_ts").cast("date")),
        )
        .otherwise(F.datediff(hmax, F.col("first_ts").cast("date")))
        .alias("t"),
        F.col("conv_ts").isNotNull().alias("observed"),
    )
    ev_days = durs.groupBy("t").agg(
        F.sum(F.col("observed").cast("long")).cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("removed"),
    )
    n0 = durs.agg(F.count("*").cast("bigint").alias("n0"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = (
        ev_days.crossJoin(F.broadcast(n0))
        .withColumn(
            "n", F.col("n0") - F.coalesce(F.sum("removed").over(w_prev), F.lit(0))
        )
        .filter(F.col("d") > 0)
    )
    km = risk.select(
        "t",
        "d",
        "n",
        F.sum(F.expr("CASE WHEN d = n THEN 1 ELSE 0 END")).over(w_cum).alias("dead"),
        F.sum(
            F.expr(
                "CASE WHEN d < n THEN ln(1.0 - CAST(d AS DOUBLE) / n)"
                " ELSE 0.0 END"
            )
        )
        .over(w_cum)
        .alias("lnsum"),
    )
    return km.select(
        "t",
        "d",
        "n",
        F.expr(
            "CASE WHEN dead > 0 THEN 0.0 ELSE ROUND(exp(lnsum), 4) END"
        ).alias("survival"),
    )


def _session_islands(ev: DataFrame) -> DataFrame:
    """Shared 30-minute-gap sessionization kernel (gaps-and-islands):
    one user_id shuffle, epoch-us gap compare (a seconds-cast would
    truncate against the oracle's interval arithmetic), running-sum
    island numbering. Consumed by the session funnel and the
    entry/exit matrix; the oracle-side twin is _SESSION_ISLANDS_SQL."""
    w = Window.partitionBy("user_id").orderBy("ts")
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        ev.select("user_id", "ts", "event_type")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (
                    F.unix_micros(F.col("ts"))
                    - F.unix_micros(F.col("prev_ts"))
                    > 1800 * 1_000_000
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(w_run))
    )


_SESSION_ISLANDS_SQL = """
    WITH gaps AS (
        SELECT user_id, ts, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    islands AS (
        SELECT user_id, ts, event_type,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM gaps
    )
"""


@query(
    "events_session_funnel_order",
    oracle=_SESSION_ISLANDS_SQL
    + """
    , per AS (
        SELECT user_id, session_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS first_purchase
        FROM islands GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN first_view IS NOT NULL
                         AND first_click > first_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(SUM(CASE WHEN first_view IS NOT NULL
                         AND first_click > first_view
                         AND first_purchase > first_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM per
    """,
)
def events_session_funnel_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED in-session funnel: view → click → purchase must happen in
    that time order WITHIN one 30-minute-gap session — the strict-intent
    funnel (user-level funnels count a morning purchase after an evening
    view; session+order scoping is what "did the page drive the sale"
    actually asks).

    Sessionization is the engine's gaps-and-islands kernel (one user_id
    shuffle, running windows inside it); each session then collapses to
    its three first-touch timestamps (conditional MIN — no joins, no
    explode) and the ordering predicates are NULL-safe comparisons
    (NULL first_X fails every > test in both engines). Output is one
    funnel summary row of exact counts.
    """
    islands = _session_islands(table(spark, sf_dir, "events"))
    per = islands.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "first_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return per.agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum(F.col("first_view").isNotNull().cast("long"))
        .cast("bigint")
        .alias("n_view"),
        F.sum(
            (
                F.col("first_view").isNotNull()
                & (F.col("first_click") > F.col("first_view"))
            ).cast("long")
        )
        .cast("bigint")
        .alias("n_view_click"),
        F.sum(
            (
                F.col("first_view").isNotNull()
                & (F.col("first_click") > F.col("first_view"))
                & (F.col("first_purchase") > F.col("first_click"))
            ).cast("long")
        )
        .cast("bigint")
        .alias("n_full_funnel"),
    )


@query(
    "events_entry_exit_bounce",
    oracle=_SESSION_ISLANDS_SQL
    + """
    , ranked AS (
        SELECT user_id, session_id, event_type, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                  ORDER BY ts ASC) AS rn_first,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                  ORDER BY ts DESC) AS rn_last,
               COUNT(*) OVER (PARTITION BY user_id, session_id) AS n_ev
        FROM islands
    ),
    per AS (
        SELECT user_id, session_id,
               MIN(CASE WHEN rn_first = 1 THEN event_type END) AS entry_type,
               MIN(CASE WHEN rn_last = 1 THEN event_type END) AS exit_type,
               MIN(n_ev) AS n_ev
        FROM ranked GROUP BY 1, 2
    )
    SELECT entry_type, exit_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces
    FROM per GROUP BY 1, 2
    """,
)
def events_entry_exit_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session entry/exit analysis: per (entry event type, exit event
    type) pair, session count and single-event BOUNCE count — the
    landing/abandonment matrix behind every "where do users arrive and
    where do they give up" dashboard.

    One user_id shuffle drives sessionization AND the first/last ranks
    (same partitioning, reused exchange); fixture timestamps are
    globally unique so first/last are total orders. The bounce flag is
    n_events = 1 — entry == exit by construction there.
    """
    islands = _session_islands(table(spark, sf_dir, "events"))
    ws = Window.partitionBy("user_id", "session_id")
    ranked = islands.select(
        "user_id",
        "session_id",
        "event_type",
        F.row_number().over(ws.orderBy(F.col("ts").asc())).alias("rn_first"),
        F.row_number().over(ws.orderBy(F.col("ts").desc())).alias("rn_last"),
        F.count("*").over(ws).alias("n_ev"),
    )
    per = ranked.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("rn_first") == 1, F.col("event_type"))).alias(
            "entry_type"
        ),
        F.min(F.when(F.col("rn_last") == 1, F.col("event_type"))).alias(
            "exit_type"
        ),
        F.min("n_ev").alias("n_ev"),
    )
    return per.groupBy("entry_type", "exit_type").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum((F.col("n_ev") == 1).cast("long")).cast("bigint").alias("n_bounces"),
    )


def _markov_iter_sql(n_iters: int) -> str:
    """Chained-CTE unrolled power iteration over the transition CTE ``t``
    (src, dst, p) starting uniform over ``states`` — the SAME generated
    text runs on Spark (temp views) and DuckDB, so both engines evaluate
    an identical expression structure."""
    parts = [
        "s0 AS (SELECT state, CAST(1 AS DOUBLE) / "
        "(SELECT COUNT(*) FROM states) AS p FROM states)"
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"s{i} AS (SELECT t.dst AS state, SUM(s{i-1}.p * t.p) AS p "
            f"FROM s{i-1} JOIN t ON t.src = s{i-1}.state GROUP BY t.dst)"
        )
    return ",\n".join(parts)


MARKOV_ITERS = 8


@query(
    "events_markov_stationary",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts)
                   AS next_type
        FROM events
    ),
    c AS (
        SELECT event_type AS src, next_type AS dst, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS tn FROM c GROUP BY src),
    t AS (
        SELECT c.src, c.dst, CAST(c.n AS DOUBLE) / tot.tn AS p
        FROM c JOIN tot USING (src)
    ),
    states AS (SELECT DISTINCT src AS state FROM t),
    {_markov_iter_sql(MARKOV_ITERS)}
    SELECT state, ROUND(p, 6) AS stationary_p
    FROM s{MARKOV_ITERS}
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain: where a
    user's behavior settles if the observed transition dynamics run
    forever — the long-run engagement mix that tells product which
    state (view/click/purchase/…) absorbs attention, independent of
    today's traffic mix.

    The transition matrix comes from one windowed LEAD pass (consecutive
    event pairs per user, one user_id shuffle); the power iteration is
    UNROLLED into {MARKOV_ITERS} chained CTEs of (join matrix, group-sum)
    over the |states|-row vector — generated from the same text the
    oracle parses, so both engines evaluate an identical expression
    structure (8 iterations converge far below the 6-dp grid for a
    well-mixed 5-state chain; each iteration is a |states|²-row join, metadata-
    sized at any event volume). Demonstrates the SQL entry path: the
    iteration executes via ``spark.sql`` over temp views.
    """
    from dataengineeringutils_spark.artifacts import df_artifact

    def _build():
        ev = table(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy("ts")
        seq = ev.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        ).filter(F.col("next_type").isNotNull())
        c = seq.groupBy(
            F.col("event_type").alias("src"), F.col("next_type").alias("dst")
        ).agg(F.count("*").alias("n"))
        tot = c.groupBy("src").agg(F.sum("n").cast("bigint").alias("tn"))
        return c.join(F.broadcast(tot), "src").select(
            "src",
            "dst",
            (F.col("n").cast("double") / F.col("tn")).alias("p"),
        )

    # materialize the matrix ONCE per fixture (parquet artifact): Spark
    # inlines CTEs, so the 8 chained iteration terms would otherwise
    # re-execute the full LEAD+aggregate subtree per reference; and the
    # matrix is a deterministic derived artifact (same discipline as the
    # shingle / pair-count artifacts), so every call — and every fresh
    # session — skips the event scan entirely
    t = df_artifact(spark, sf_dir, "markov_transition_matrix", _build)
    view_name = f"markov_t_{abs(hash(sf_dir)) % 10**8}"
    t.createOrReplaceTempView(view_name)
    sql = f"""
    WITH t AS (SELECT * FROM {view_name}),
    states AS (SELECT DISTINCT src AS state FROM t),
    {_markov_iter_sql(MARKOV_ITERS)}
    SELECT state, ROUND(p, 6) AS stationary_p
    FROM s{MARKOV_ITERS}
    """
    return spark.sql(sql)


@query(
    "events_power_users_pareto",
    oracle="""
    WITH pu AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT n,
               ROW_NUMBER() OVER (ORDER BY n DESC, user_id ASC) AS rn,
               COUNT(*) OVER () AS n_users,
               CAST(SUM(n) OVER () AS BIGINT) AS total
        FROM pu
    ),
    marked AS (
        SELECT n, total, n_users,
               CASE WHEN rn <= CAST(ceil(0.1 * n_users) AS BIGINT)
                    THEN 1 ELSE 0 END AS in_top
        FROM ranked
    )
    SELECT MIN(n_users) AS n_users,
           CAST(SUM(CASE WHEN in_top = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_top_users,
           MIN(total) AS total_events,
           CAST(SUM(CASE WHEN in_top = 1 THEN n ELSE 0 END) AS BIGINT)
               AS top_events,
           ROUND(CAST(SUM(CASE WHEN in_top = 1 THEN n ELSE 0 END) AS DOUBLE)
                 / MIN(total), 6) AS pareto_share
    FROM marked
    """,
)
def events_power_users_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: what share of all events the top-10% most
    active users generate — the '80/20' engagement-concentration metric
    (and the load-skew forecast: this number is the hot-key ratio every
    user-partitioned shuffle downstream will see).

    Per-user counts collapse the event table first (|users| rows); the
    global rank + the two global totals then run as ONE two-phase
    bucket-cut pass (``two_phase_global_rank`` with ``sum_col`` —
    round-5 VERDICT #1): the per-bucket aggregate carries both the row
    count and SUM(n), the driver prefix scan broadcasts rank offsets
    plus both grand totals, and row_number runs per bounded bucket — no
    single-partition window even if user counts approach fact scale.
    Exact integer masses, 6-dp share.
    """
    from dataengineeringutils_spark.artifacts import df_artifact, json_artifact

    # per-user counts + their bucket cuts are deterministic fixture
    # artifacts, persisted on disk (parquet + JSON) so fresh sessions
    # skip the build; the rank/total pass below re-executes per call
    pu = df_artifact(
        spark,
        sf_dir,
        "pareto_per_user",
        lambda: table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n")),
    )
    cuts = json_artifact(
        sf_dir,
        "pareto_per_user_cuts",
        lambda: sorted(
            set(
                pu.select(F.col("n").cast("double").alias("nd"))
                .sample(0.2, seed=7)
                .stat.approxQuantile(
                    "nd", [i / 32 for i in range(1, 32)], 0.01
                )
            )
        ),
    )
    ranked = two_phase_global_rank(
        pu,
        "n",
        "user_id",
        cuts,
        descending=True,
        n_name="n_users",
        sum_col="n",
        sum_total_name="total",
    ).select("n", "rn", "n_users", F.col("total").cast("bigint").alias("total"))
    marked = ranked.select(
        "n",
        "total",
        "n_users",
        F.expr(
            "CASE WHEN rn <= CAST(ceil(0.1 * n_users) AS BIGINT)"
            " THEN 1 ELSE 0 END"
        ).alias("in_top"),
    )
    return marked.agg(
        F.min("n_users").alias("n_users"),
        F.sum(F.expr("CASE WHEN in_top = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_top_users"),
        F.min("total").alias("total_events"),
        F.sum(F.expr("CASE WHEN in_top = 1 THEN n ELSE 0 END"))
        .cast("bigint")
        .alias("top_events"),
        F.expr(
            "ROUND(CAST(SUM(CASE WHEN in_top = 1 THEN n ELSE 0 END) AS DOUBLE)"
            " / MIN(total), 6)"
        ).alias("pareto_share"),
    )


@query(
    "orders_seasonal_decompose",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders GROUP BY 1
    ),
    trend AS (
        SELECT m, revenue,
               CAST(month(m) AS INT) AS moy,
               ROUND(AVG(revenue) OVER (
                   ORDER BY m ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
               ), 2) AS trend,
               COUNT(*) OVER (
                   ORDER BY m ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
               ) AS wn
        FROM monthly
    ),
    resid AS (
        SELECT moy, revenue - trend AS r
        FROM trend WHERE wn = 3
    )
    SELECT moy,
           CAST(COUNT(*) AS BIGINT) AS n_months,
           ROUND(CAST(SUM(CAST(r AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 2) AS seasonal_index
    FROM resid GROUP BY moy
    """,
)
def orders_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (STL-lite) of monthly
    revenue: detrend with a centered 3-month moving average, then
    average the residuals per month-of-year into a seasonal index —
    which calendar months structurally over/under-index once the trend
    is removed, the forecasting/capacity primitive behind
    ``orders_forecast_naive_eval``.

    The fact table collapses to |months| rows first (exact decimal
    sums); the centered window runs on that tiny frame (edge months
    with incomplete windows are excluded via the window row count, not
    NULL arithmetic — same rule both engines). Residual averages go
    through exact 2-dp decimal sums so the index is order-independent.
    """
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    w3 = Window.orderBy("m").rowsBetween(-1, 1)
    trend = monthly.select(
        "revenue",
        F.month("m").cast("int").alias("moy"),
        F.round(F.avg("revenue").over(w3), 2).alias("trend"),
        F.count("*").over(w3).alias("wn"),
    )
    resid = trend.filter(F.col("wn") == 3).select(
        "moy", (F.col("revenue") - F.col("trend")).alias("r")
    )
    return resid.groupBy("moy").agg(
        F.count("*").cast("bigint").alias("n_months"),
        F.round(
            F.sum(F.col("r").cast("decimal(18,2)")).cast("double")
            / F.count("*"),
            2,
        ).alias("seasonal_index"),
    )


@query(
    "events_punchcard",
    oracle="""
    SELECT CAST((date_diff('day', DATE '1995-01-02', CAST(ts AS DATE))
                 % 7 + 7) % 7 AS INT) AS weekday,
           CAST(hour(ts) AS INT) AS hour_of_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def events_punchcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The activity PUNCHCARD: events and distinct users per
    (weekday, hour-of-day) cell — the 7x24 grid behind every
    "when are our users awake" heatmap, and the input for maintenance-
    window / on-call-staffing decisions.

    Weekday via integer days-since-a-known-Monday arithmetic (engine
    dayofweek numbering differs; the oracle conventions ban it), hour
    from the UTC-pinned timestamp. One scan, one aggregate of at most
    168 cells with map-side-combined distinct users.
    """
    ev = table(spark, sf_dir, "events")
    weekday = (
        (
            F.datediff(F.col("ts").cast("date"), F.lit("1995-01-02").cast("date"))
            % 7
            + 7
        )
        % 7
    ).cast("int")
    return ev.groupBy(
        weekday.alias("weekday"),
        F.hour("ts").cast("int").alias("hour_of_day"),
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )


@query(
    "events_ab_srm_check",
    oracle="""
    WITH assign AS (
        SELECT DISTINCT user_id,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))
                    ::BIGINT % 2 AS INT) AS arm
        FROM events
    ),
    counts AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n FROM assign GROUP BY arm
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
    SELECT arm, n,
           ROUND(CAST(t AS DOUBLE) / 2, 1) AS expected,
           ROUND((n - CAST(t AS DOUBLE) / 2)
                 * (n - CAST(t AS DOUBLE) / 2)
                 / (CAST(t AS DOUBLE) / 2), 6) AS chi2_term
    FROM counts CROSS JOIN tot
    """,
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-Ratio-Mismatch (SRM) gate for A/B assignment: compare each
    arm's user count against the designed 50/50 split with per-arm
    chi-square terms — the FIRST check on any experiment readout
    (a biased assignment hash, bot filtering applied to one arm, or a
    logging gap shows up here before anyone reads the lift; companion
    to ``events_ab_lift``). Assignment is the same identity-hash gate
    the lift op uses, so the two ops audit the same experiment.

    Users collapse to one row each before counting; the chi-square
    arithmetic evaluates from shared expression text on a 2-row frame.
    """
    ev = table(spark, sf_dir, "events")
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 2
    ).cast("int")
    assign = ev.select("user_id").distinct().select(arm.alias("arm"))
    counts = assign.groupBy("arm").agg(F.count("*").cast("bigint").alias("n"))
    tot = counts.agg(F.sum("n").cast("bigint").alias("t"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "arm",
        "n",
        F.expr("ROUND(CAST(t AS DOUBLE) / 2, 1)").alias("expected"),
        F.expr(
            "ROUND((n - CAST(t AS DOUBLE) / 2)"
            " * (n - CAST(t AS DOUBLE) / 2)"
            " / (CAST(t AS DOUBLE) / 2), 6)"
        ).alias("chi2_term"),
    )


@query(
    "events_type_cooccurrence_pmi",
    oracle=_SESSION_ISLANDS_SQL
    + """
    , stypes AS (
        SELECT DISTINCT user_id, session_id, event_type FROM islands
    ),
    ns AS (SELECT CAST(COUNT(DISTINCT (user_id, session_id)) AS BIGINT) AS n
           FROM stypes),
    single AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM stypes GROUP BY event_type
    ),
    pair AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM stypes a
        JOIN stypes b ON a.user_id = b.user_id
                     AND a.session_id = b.session_id
                     AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.c_ab, sa.c AS c_a, sb.c AS c_b,
           ROUND(ln((CAST(p.c_ab AS DOUBLE) * (SELECT n FROM ns))
                    / (CAST(sa.c AS DOUBLE) * sb.c)), 4) AS pmi
    FROM pair p
    JOIN single sa ON p.type_a = sa.event_type
    JOIN single sb ON p.type_b = sb.event_type
    """,
)
def events_type_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral association mining: pointwise mutual information of
    event-type PAIRS co-occurring within a session — PMI > 0 means the
    behaviors cluster in the same visits beyond what their base rates
    predict (the market-basket lift idea applied to behavior, on the
    same sessionization kernel as the funnel ops).

    Sessions collapse to DISTINCT (session, type) rows first (≤ |types|
    per session — repeat events can't inflate co-occurrence); pairs
    generate via a keyed self-join on the session (bounded by |types|²
    per session); singles and the session total are broadcast-sized.
    Exact integer counts; ln at 4 dp from shared text.
    """
    islands = _session_islands(table(spark, sf_dir, "events"))
    # Round-11 opt: the former DISTINCT (session, type) frame fed a
    # (user, session)-keyed SELF-JOIN — two more exchanges (the join
    # re-keys the distinct output) plus the join itself. Collapse each
    # session to its SORTED TYPE SET in one aggregate instead; singles,
    # the session total, and the ordered pairs (type_a < type_b falls
    # out of the sorted array) are then per-row array expansions over
    # that one exchange (reused by all three consumers). Work stays
    # bounded by |types|^2 per session exactly as before.
    sess = (
        islands.groupBy("user_id", "session_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("tps"))
    )
    ns = sess.agg(F.count("*").cast("bigint").alias("n"))
    single = (
        sess.select(F.explode("tps").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    pair = (
        sess.select(
            F.explode(
                F.expr(
                    "flatten(transform(tps, (x, i) -> "
                    "transform(slice(tps, i + 2, size(tps)), "
                    "y -> struct(x AS type_a, y AS type_b))))"
                )
            ).alias("p")
        )
        .select("p.*")
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
    )
    sa = single.select(F.col("event_type").alias("type_a"), F.col("c").alias("c_a"))
    sb = single.select(F.col("event_type").alias("type_b"), F.col("c").alias("c_b"))
    return (
        pair.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(ns))
        .select(
            "type_a",
            "type_b",
            "c_ab",
            "c_a",
            "c_b",
            F.expr(
                "ROUND(ln((CAST(c_ab AS DOUBLE) * n)"
                " / (CAST(c_a AS DOUBLE) * c_b)), 4)"
            ).alias("pmi"),
        )
    )


@query(
    "events_session_gap_sensitivity",
    oracle="""
    WITH seq AS (
        SELECT epoch_us(ts) - epoch_us(LAG(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        FROM events
    ),
    one AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_ev,
               CAST(SUM(CASE WHEN gap_us IS NULL
                             OR gap_us > CAST(10 AS BIGINT) * 60 * 1000000
                        THEN 1 ELSE 0 END) AS BIGINT) AS s10,
               CAST(SUM(CASE WHEN gap_us IS NULL
                             OR gap_us > CAST(30 AS BIGINT) * 60 * 1000000
                        THEN 1 ELSE 0 END) AS BIGINT) AS s30,
               CAST(SUM(CASE WHEN gap_us IS NULL
                             OR gap_us > CAST(60 AS BIGINT) * 60 * 1000000
                        THEN 1 ELSE 0 END) AS BIGINT) AS s60
        FROM seq
    )
    SELECT gap_minutes, n_sessions,
           ROUND(CAST(n_ev AS DOUBLE) / n_sessions, 4)
               AS avg_events_per_session
    FROM (
        SELECT CAST(10 AS INT) AS gap_minutes, s10 AS n_sessions, n_ev FROM one
        UNION ALL SELECT 30, s30, n_ev FROM one
        UNION ALL SELECT 60, s60, n_ev FROM one
    )
    """,
)
def events_session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization-gap sensitivity: session counts and mean session
    length at inactivity gaps of 10/30/60 minutes — the tuning table a
    pipeline publishes before pinning the 30-minute convention every
    downstream session metric inherits (a gap choice that halves the
    session count changes funnels, retention and LTV definitions).

    ONE window pass computes every per-user inter-event gap in integer
    microseconds; all three thresholds are conditional counts over that
    same pass (a session starts where the gap exceeds the threshold, or
    at the user's first event), so the fact table is scanned once and
    shuffled once regardless of how many candidate gaps are evaluated.
    The 3-row threshold grid then unstacks from the single aggregate
    row — adding a gap candidate costs one more counter, not a scan.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us")
    )
    one = seq.agg(
        F.count("*").cast("bigint").alias("n_ev"),
        *[
            F.sum(
                (
                    F.col("gap_us").isNull()
                    | (F.col("gap_us") > g * 60 * 1_000_000)
                ).cast("long")
            )
            .cast("bigint")
            .alias(f"s{g}")
            for g in (10, 30, 60)
        ],
    )
    return one.select(
        F.expr(
            "stack(3, CAST(10 AS INT), s10, CAST(30 AS INT), s30, "
            "CAST(60 AS INT), s60) AS (gap_minutes, n_sessions)"
        ),
        "n_ev",
    ).select(
        "gap_minutes",
        "n_sessions",
        F.round(
            F.col("n_ev").cast("double") / F.col("n_sessions"), 4
        ).alias("avg_events_per_session"),
    )


@query(
    "events_out_of_order_profile",
    oracle="""
    WITH arr AS (
        SELECT user_id, epoch_us(ts) AS ev_us,
               epoch_us(ts)
               + (event_id * 2654435761) % 600000000 - 300000000 AS arr_us,
               event_id
        FROM events
    ),
    seq AS (
        SELECT MAX(ev_us) OVER (
                   PARTITION BY user_id ORDER BY arr_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - ev_us AS late_us
        FROM arr
    ),
    b AS (
        SELECT CASE
                   WHEN late_us = 0 THEN 'on_time'
                   WHEN late_us < 60 * 1000000 THEN 'lt_1m'
                   WHEN late_us < CAST(600 AS BIGINT) * 1000000 THEN 'lt_10m'
                   WHEN late_us < CAST(3600 AS BIGINT) * 1000000 THEN 'lt_1h'
                   ELSE 'ge_1h'
               END AS lateness,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq GROUP BY 1
    )
    SELECT lateness, n,
           ROUND(CAST(n AS DOUBLE) / (SELECT SUM(n) FROM b), 6) AS share
    FROM b
    """,
)
def events_out_of_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile of the event stream: per user in
    arrival order, how far each event's time lags the running maximum
    event time — bucketed into on-time / <1m / <10m / <1h / ≥1h
    shares. This histogram IS the watermark-delay decision: the bucket
    where the tail mass lives is the `withWatermark` bound that keeps
    late-drop below the chosen tolerance, measured from data instead
    of guessed.

    The fixtures carry no ingestion log (their event_id order is
    perfectly time-sorted, which would make every profile trivially
    on-time), so arrival is modeled as event time plus a DETERMINISTIC
    bounded jitter — a Knuth multiplicative residue of the event id in
    (−300 s, +300 s), pure int64 arithmetic, identical in both
    engines. With a real ingestion log, ``arr_us`` is simply that
    log's arrival timestamp; everything downstream is unchanged.

    One keyed window (running max per user — arrival skew never makes
    a global sort), integer-microsecond lateness, then a ≤5-row bucket
    aggregate; the share denominator sums that tiny frame.
    """
    ev = table(spark, sf_dir, "events")
    arr = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ev_us"),
        (
            F.unix_micros("ts")
            + (F.col("event_id") * F.lit(2654435761).cast("bigint"))
            % 600_000_000
            - 300_000_000
        ).alias("arr_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = arr.select(
        (F.max("ev_us").over(w) - F.col("ev_us")).alias("late_us")
    )
    us = lambda s: F.lit(s).cast("bigint") * 1_000_000  # noqa: E731
    b = late.select(
        F.when(F.col("late_us") == 0, "on_time")
        .when(F.col("late_us") < us(60), "lt_1m")
        .when(F.col("late_us") < us(600), "lt_10m")
        .when(F.col("late_us") < us(3600), "lt_1h")
        .otherwise("ge_1h")
        .alias("lateness")
    ).groupBy("lateness").agg(F.count("*").cast("bigint").alias("n"))
    tot = b.agg(F.sum("n").cast("double").alias("t"))
    return b.crossJoin(F.broadcast(tot)).select(
        "lateness",
        "n",
        F.round(F.col("n").cast("double") / F.col("t"), 6).alias("share"),
    )


@query(
    "events_transition_entropy",
    oracle="""
    WITH seq AS (
        SELECT event_type AS cur,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    pair AS (
        SELECT cur, nxt, CAST(COUNT(*) AS DOUBLE) AS c
        FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    marg AS (SELECT cur, SUM(c) AS tc FROM pair GROUP BY cur),
    tot AS (SELECT SUM(c) AS t FROM pair)
    SELECT CAST((SELECT SUM(c) FROM pair) AS BIGINT) AS n_transitions,
           CAST((SELECT COUNT(*) FROM marg) AS BIGINT) AS n_states,
           ROUND(-SUM((p.c / (SELECT t FROM tot))
                      * ln(p.c / m.tc)), 4) AS entropy_rate_nats
    FROM pair p JOIN marg m ON p.cur = m.cur
    """,
)
def events_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy of the event-type transition process,
    H(next | current) under the empirical state distribution — the
    one-number predictability score of user behavior (0 = next action
    fully determined by the current one; ln|types| = uniform chaos).
    Complements ``events_transition_matrix`` (the full grid) and
    ``events_markov_stationary`` (the long-run mix) with the signal
    compression/modeling cares about.

    One keyed LEAD pass emits transitions; everything downstream runs
    on the ≤|types|² pair frame (counts, marginals, the weighted
    -Σ p(i,j)·ln p(j|i) sum) — metadata-sized at any corpus scale.
    4-dp rounding absorbs libm ln differences across engines.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pair = seq.groupBy("cur", "nxt").agg(
        F.count("*").cast("double").alias("c")
    )
    marg = pair.groupBy("cur").agg(F.sum("c").alias("tc"))
    tot = pair.agg(F.sum("c").alias("t"))
    n_states = marg.agg(F.count("*").cast("bigint").alias("n_states"))
    return (
        pair.join(F.broadcast(marg), "cur")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum("c").cast("bigint").alias("n_transitions"),
            F.round(
                -F.sum(
                    (F.col("c") / F.col("t"))
                    * F.log(F.col("c") / F.col("tc"))
                ),
                4,
            ).alias("entropy_rate_nats"),
        )
        .crossJoin(F.broadcast(n_states))
        .select("n_transitions", "n_states", "entropy_rate_nats")
    )


@query(
    "events_type_position_in_session",
    oracle="""
    WITH s AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id))
                         > 1800 * 1000000
                         OR LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ),
    sess AS (
        SELECT event_type,
               SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid,
               user_id, ts, event_id
        FROM s
    ),
    pos AS (
        SELECT event_type,
               ROW_NUMBER() OVER w AS rn,
               COUNT(*) OVER (PARTITION BY user_id, sid) AS n
        FROM sess
        WINDOW w AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(AVG(CAST(rn - 1 AS DOUBLE) / (n - 1)), 4) AS avg_rel_pos
    FROM pos
    WHERE n >= 2
    GROUP BY event_type
    """,
)
def events_type_position_in_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE in a session each event type happens: mean relative
    position (0 = always the session opener, 1 = always the closer)
    per type, over 30-minute-gap sessions with ≥2 events — the
    behavioral-grammar read (purchases late and views early is
    healthy; purchases at position 0 means deep links skip the funnel)
    that complements the transition matrix with an absolute clock.

    Built on the shared gaps-and-islands sessionization (one user
    shuffle drives the gap flags, session ids, positions and sizes —
    four windows, all on the same (user, session) partitioning, so
    Spark reuses one exchange), then a |types|-row aggregate.
    """
    ev = table(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        (
            F.col("ts").isNull()  # never; keeps the CASE shape explicit
            | F.lag("ts").over(w_u).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w_u))
                > 1800 * 1_000_000
            )
        )
        .cast("int")
        .alias("new_s"),
    )
    sess = s.select(
        "event_type",
        "user_id",
        "ts",
        "event_id",
        F.sum("new_s")
        .over(w_u.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    w_s = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    w_sn = Window.partitionBy("user_id", "sid")
    pos = sess.select(
        "event_type",
        F.row_number().over(w_s).alias("rn"),
        F.count("*").over(w_sn).alias("n"),
    ).filter(F.col("n") >= 2)
    return pos.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(
            F.avg((F.col("rn") - 1).cast("double") / (F.col("n") - 1)), 4
        ).alias("avg_rel_pos"),
    )


@query(
    "events_repeat_purchase_latency",
    oracle="""
    WITH p AS (
        SELECT user_id, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase'
    ),
    gap AS (
        SELECT a.user_id,
               (epoch_us(b.ts) - epoch_us(a.ts)) / 3600000000.0 AS gap_hours
        FROM p a JOIN p b ON a.user_id = b.user_id
                         AND a.rn = 1 AND b.rn = 2
    ),
    buyers AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_buyers FROM p
    ),
    ranked AS (
        SELECT gap_hours,
               ROW_NUMBER() OVER (ORDER BY gap_hours ASC, user_id ASC) AS rn,
               COUNT(*) OVER () AS n
        FROM gap
    )
    SELECT (SELECT n_buyers FROM buyers) AS n_buyers,
           CAST(ANY_VALUE(n) AS BIGINT) AS n_repeat_buyers,
           ROUND(CAST(ANY_VALUE(n) AS DOUBLE)
                 / (SELECT n_buyers FROM buyers), 6) AS repeat_rate,
           ROUND(MIN(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
                    THEN gap_hours END), 4) AS p50_hours,
           ROUND(MIN(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT)
                    THEN gap_hours END), 4) AS p90_hours
    FROM ranked
    """,
)
def events_repeat_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase velocity: what share of buyers purchase a second
    time, and how fast (median / p90 hours between first and second
    purchase) — the retention-economics number that sits between
    first-touch attribution and LTV: a high repeat rate with a long
    latency and a short one prescribe entirely different lifecycle
    campaigns.

    Purchases rank per user (keyed window), the rn∈{1,2} split pairs
    each user's first two purchases without materializing full
    histories, and the gap percentiles are PERCENTILE_DISC over the
    entity-collapsed |repeat buyers| frame via the TWO-PHASE bucket-cut
    rank — no single-partition window even if repeat buyers number in
    the billions.
    """
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # first-two frame feeds three derivations (both join sides + the
    # buyer count) — materialize so the fact scan + window run once
    p = (
        ev.select("user_id", "ts", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 2)
        .localCheckpoint(eager=True)
    )
    a = p.filter(F.col("rn") == 1).select(
        "user_id", F.col("ts").alias("t1")
    )
    b = p.filter(F.col("rn") == 2).select(
        "user_id", F.col("ts").alias("t2")
    )
    gap = a.join(b, "user_id").select(
        "user_id",
        (
            (F.unix_micros("t2") - F.unix_micros("t1")) / 3_600_000_000.0
        ).alias("gap_hours"),
    )
    n_buyers = a.agg(F.count("*").cast("bigint").alias("n_buyers"))
    from dataengineeringutils_spark.operators.windows import (
        two_phase_global_rank,
    )

    # bucket cuts are a deterministic statistic of the fixture's gap
    # distribution — persist like every other cut artifact (round-11
    # opt: the per-call approxQuantile re-ran the first-two join as an
    # extra blocking job; cuts only balance buckets, never the answer)
    from dataengineeringutils_spark.artifacts import json_artifact

    cuts = json_artifact(
        sf_dir,
        "repeat_gap_cuts",
        lambda: sorted(
            set(
                gap.stat.approxQuantile(
                    "gap_hours", [0.25, 0.5, 0.75], 0.05
                )
            )
        ),
    )
    ranked = two_phase_global_rank(
        gap, "gap_hours", "user_id", cuts, rn_name="rn"
    )
    return (
        ranked.agg(
            F.count("*").cast("bigint").alias("n_repeat_buyers"),
            F.min(
                F.when(
                    F.expr("rn = CAST(ceil(0.50 * n) AS BIGINT)"),
                    F.col("gap_hours"),
                )
            ).alias("p50_raw"),
            F.min(
                F.when(
                    F.expr("rn = CAST(ceil(0.90 * n) AS BIGINT)"),
                    F.col("gap_hours"),
                )
            ).alias("p90_raw"),
        )
        .crossJoin(F.broadcast(n_buyers))
        .select(
            "n_buyers",
            "n_repeat_buyers",
            F.round(
                F.col("n_repeat_buyers").cast("double") / F.col("n_buyers"), 6
            ).alias("repeat_rate"),
            F.round(F.col("p50_raw"), 4).alias("p50_hours"),
            F.round(F.col("p90_raw"), 4).alias("p90_hours"),
        )
    )


@query(
    "events_value_qq_table",
    oracle="""
    WITH v AS (
        SELECT event_type, value, event_id FROM events
        WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
    ),
    ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value ASC, event_id ASC) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM v
    ),
    deciles AS (
        SELECT d.p, r.event_type, r.value
        FROM (SELECT UNNEST([0.1,0.25,0.5,0.75,0.9]) AS p) d
        JOIN ranked r ON r.rn = CAST(ceil(d.p * r.n) AS BIGINT)
    )
    SELECT p,
           MIN(CASE WHEN event_type = 'purchase' THEN value END)
               AS purchase_value,
           MIN(CASE WHEN event_type = 'click' THEN value END)
               AS click_value,
           ROUND(MIN(CASE WHEN event_type = 'purchase' THEN value END)
                 / MIN(CASE WHEN event_type = 'click' THEN value END), 4)
               AS qq_ratio
    FROM deciles GROUP BY p
    """,
)
def events_value_qq_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile comparison of the value distribution between
    purchases and clicks: matched discrete quantiles (p10/p25/p50/p75/
    p90) side by side with their ratio — the distribution-shift
    diagnostic that says WHERE two populations differ (a flat ratio =
    pure scale shift; a ratio growing with p = the purchase tail is
    heavier), where a mean comparison says only THAT they differ.

    One scan; the exact PERCENTILE_DISC positions come from
    windows.grouped_percentile_disc (one keyed sort on small inputs,
    the value-collapsed two-phase selection at scale, where a 2-value
    type key would put half the events on one sorting task under the
    keyed rank), then the 5-row p-grid pivots purchase vs click side by side — all
    engine-portable integer count arithmetic, values straight from the
    data.
    """
    from dataengineeringutils_spark.operators.windows import (
        grouped_percentile_disc,
        sampled_cuts,
        table_rows,
    )

    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    ).select("event_type", "value")
    pd = grouped_percentile_disc(
        ev, ["event_type"], "value",
        lambda: sampled_cuts(spark, sf_dir, "events_value_cuts", ev, "value"),
        [0.1, 0.25, 0.5, 0.75, 0.9],
        n_rows=table_rows(spark, sf_dir, "events"),
    )
    return pd.groupBy("p").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("v"))
        ).alias("purchase_value"),
        F.min(
            F.when(F.col("event_type") == "click", F.col("v"))
        ).alias("click_value"),
        F.round(
            F.min(F.when(F.col("event_type") == "purchase", F.col("v")))
            / F.min(F.when(F.col("event_type") == "click", F.col("v"))),
            4,
        ).alias("qq_ratio"),
    )


@query(
    "events_session_depth_cdf",
    oracle="""
    WITH s AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id))
                         > 1800 * 1000000
                         OR LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ),
    sess AS (
        SELECT user_id,
               SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM s
    ),
    sizes AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS depth
        FROM sess GROUP BY user_id, sid
    ),
    grid AS (SELECT UNNEST([1, 2, 3, 5, 8, 13]) AS k)
    SELECT CAST(k AS INT) AS k,
           CAST(SUM(CASE WHEN depth >= k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sessions_ge_k,
           ROUND(CAST(SUM(CASE WHEN depth >= k THEN 1 ELSE 0 END) AS DOUBLE)
                 / (SELECT COUNT(*) FROM sizes), 6) AS share
    FROM sizes, grid
    GROUP BY k
    """,
)
def events_session_depth_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth survival curve: the share of sessions reaching at
    least 1/2/3/5/8/13 events — the engagement-funnel shape that single
    averages hide (two products with identical mean depth can have
    opposite retention cliffs; the k where the curve breaks is where
    the product loses people).

    The shared 30-minute sessionization kernel collapses events to one
    DEPTH row per session (all windows on one user exchange); the
    survival grid is ONE wide aggregate of conditional counters over
    that collapsed frame (plus the total in the same pass), unpivoted
    with ``stack()`` — adding thresholds costs counters, not passes,
    and no session row is fanned out or re-read.
    """
    ev = table(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.lag("ts").over(w_u).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w_u))
                > 1800 * 1_000_000
            )
        )
        .cast("int")
        .alias("new_s"),
    )
    sess = s.select(
        "user_id",
        F.sum("new_s")
        .over(w_u.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    sizes = sess.groupBy("user_id", "sid").agg(
        F.count("*").cast("bigint").alias("depth")
    )
    ks = (1, 2, 3, 5, 8, 13)
    wide = sizes.agg(
        F.count("*").cast("double").alias("t"),
        *[
            F.sum((F.col("depth") >= F.lit(k)).cast("long"))
            .cast("bigint")
            .alias(f"ge_{k}")
            for k in ks
        ],
    )
    stack_expr = "stack({}, {}) AS (k, n_sessions_ge_k)".format(
        len(ks), ", ".join(f"CAST({k} AS INT), ge_{k}" for k in ks)
    )
    return wide.select(F.expr(stack_expr), "t").select(
        "k",
        "n_sessions_ge_k",
        F.round(F.col("n_sessions_ge_k").cast("double") / F.col("t"), 6).alias(
            "share"
        ),
    )


# Shared per-user burstiness arithmetic (identical text on both engines;
# inputs are exact integers so the doubles are bit-identical). Population
# moments over the k inter-arrival gaps of one user.
_B_MEAN = "CAST(s1 AS DOUBLE) / k"
_B_SD = f"SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * ({_B_MEAN})) / k)"
_B_SCORE = f"(({_B_SD}) - ({_B_MEAN})) / (({_B_SD}) + ({_B_MEAN}))"
_B_BAND = (
    "CASE WHEN k >= 79 THEN '80+' WHEN k >= 69 THEN '70-79' "
    "WHEN k >= 59 THEN '60-69' ELSE '<60' END"
)


@query(
    "events_user_burstiness",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id,
               (LEAD(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) - epoch_us(ts)) // 1000000 AS g
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               CAST(COUNT(g) AS BIGINT) AS k,
               CAST(SUM(g) AS BIGINT) AS s1,
               SUM(CAST(g AS DECIMAL(38,0)) * g) AS s2
        FROM gaps WHERE g IS NOT NULL
        GROUP BY user_id HAVING COUNT(g) >= 2
    ),
    scored AS (
        SELECT {_B_BAND} AS activity_band,
               CAST(FLOOR(({_B_SCORE}) * 1e6) AS BIGINT) AS bq,
               {_B_SCORE} AS b
        FROM per_user
    )
    SELECT activity_band,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(bq) AS DOUBLE) / 1e6 / COUNT(*), 6) AS mean_b,
           ROUND(MIN(b), 6) AS min_b,
           ROUND(MAX(b), 6) AS max_b
    FROM scored GROUP BY activity_band
    """,
)
def events_user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of each user's event stream — Goh-Barabási
    B = (σ−μ)/(σ+μ) over inter-arrival gaps (B→−1 periodic, ≈0
    Poisson, →+1 bursty) — summarized per activity band: schedulers
    and bots sit near −1, organic humans cluster in bursts; the band
    cut (by event count, fixture users run 45-99 events at every SF)
    keeps light and heavy users from averaging each other out.

    One keyed window forms gaps under the total order (ts, event_id),
    one hash aggregate collapses events to |users| exact integer
    moments (Σg as bigint, Σg² as DECIMAL — µs-scale squares overflow
    int64), and the band summary is a ≤4-row second collapse. The
    per-band mean quantizes each user's B at 10⁻⁶ into int64 before
    summing (order-independent across partitions — raw double sums are
    not); min/max are exact doubles. Events shuffle once, by user.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        (
            (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts"))
        ).alias("g_us"),
    ).select("user_id", F.expr("g_us div 1000000").alias("g"))
    per_user = (
        gaps.filter(F.col("g").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("g").cast("bigint").alias("k"),
            F.sum("g").cast("bigint").alias("s1"),
            F.sum(F.col("g").cast("decimal(38,0)") * F.col("g")).alias("s2"),
        )
        .filter(F.col("k") >= 2)
    )
    scored = per_user.select(
        F.expr(_B_BAND).alias("activity_band"),
        F.expr(f"CAST(FLOOR(({_B_SCORE}) * 1e6) AS BIGINT)").alias("bq"),
        F.expr(_B_SCORE).alias("b"),
    )
    return scored.groupBy("activity_band").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.sum("bq").cast("double") / F.lit(1e6) / F.count("*"), 6)
        .alias("mean_b"),
        F.round(F.min("b"), 6).alias("min_b"),
        F.round(F.max("b"), 6).alias("max_b"),
    )


# Shared Poisson-rate text: n and span_us are exact integers, so both
# engines derive bit-identical rates and Wald bounds (sqrt is correctly
# rounded per IEEE-754).
_PR_T = "(CAST(span_us AS DOUBLE) / 3600000000)"
_PR_RATE = f"(CAST(n AS DOUBLE) / {_PR_T})"
_PR_HALF = f"(1.96 * SQRT(CAST(n AS DOUBLE)) / {_PR_T})"


@query(
    "events_poisson_rate_ci",
    oracle=f"""
    WITH span AS (
        SELECT epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us FROM events
    ),
    per_type AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND({_PR_RATE}, 6) AS rate_per_hour,
           ROUND({_PR_RATE} - {_PR_HALF}, 6) AS ci_lo,
           ROUND({_PR_RATE} + {_PR_HALF}, 6) AS ci_hi
    FROM per_type CROSS JOIN span
    """,
)
def events_poisson_rate_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival rate per event type with a 95% Wald confidence interval
    under the Poisson model (λ̂ ± 1.96·√n/T over the observed span) —
    the uncertainty band that separates "clicks really did slow down"
    from "small-n noise" when two deploy windows are compared. Rates
    whose CIs don't overlap differ at ~5%.

    One |types|-row aggregate plus a 1-row span frame cross-joined in;
    every input to the arithmetic is an exact integer (counts, epoch
    µs), so both engines round identical doubles. Nothing scales with
    row count but the single map-combined pass.
    """
    e = table(spark, sf_dir, "events")
    span = e.agg(
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "span_us"
        )
    )
    per_type = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return per_type.crossJoin(F.broadcast(span)).select(
        "event_type",
        "n",
        F.expr(f"ROUND({_PR_RATE}, 6)").alias("rate_per_hour"),
        F.expr(f"ROUND({_PR_RATE} - {_PR_HALF}, 6)").alias("ci_lo"),
        F.expr(f"ROUND({_PR_RATE} + {_PR_HALF}, 6)").alias("ci_hi"),
    )


@query(
    "events_transition_dwell",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, ts,
               LEAD(event_type) OVER w AS next_type,
               (LEAD(epoch_us(ts)) OVER w - epoch_us(ts)) // 1000000 AS g
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type AS from_type,
           next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(g) AS BIGINT) AS total_secs,
           ROUND(CAST(SUM(g) AS DOUBLE) / COUNT(*), 6) AS mean_dwell_secs,
           CAST(MAX(g) AS BIGINT) AS max_dwell_secs
    FROM seq
    WHERE next_type IS NOT NULL AND g <= 1800
    GROUP BY event_type, next_type
    """,
)
def events_transition_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell time per behavioral transition: mean seconds spent between
    consecutive event types within a user stream (gaps over 30 min are
    session breaks, not dwell — excluded), the timing layer on top of
    ``events_transition_matrix``'s pure counts: view→purchase dwell is
    decision latency, purchase→view is re-engagement speed, and a
    transition whose dwell collapses release-over-release usually means
    a redirect or bot got into the funnel.

    One keyed window under the total order (ts, event_id) forms
    (from, to, gap) triples; one map-combined aggregate collapses to
    |types|² rows of exact integer sums. Events shuffle once, by user.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
        F.expr(
            "(lead(unix_micros(ts)) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) - unix_micros(ts)) div 1000000"
        ).alias("g"),
    )
    return (
        seq.filter(F.col("to_type").isNotNull() & (F.col("g") <= 1800))
        .groupBy("from_type", "to_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("g").cast("bigint").alias("total_secs"),
            F.round(F.sum("g").cast("double") / F.count("*"), 6).alias(
                "mean_dwell_secs"
            ),
            F.max("g").cast("bigint").alias("max_dwell_secs"),
        )
    )


# Wilson score interval pieces (shared text; inputs exact integers).
_W_P = "(CAST(c AS DOUBLE) / n)"
_W_DEN = "(1 + 3.8416 / n)"
_W_CTR = f"({_W_P} + 1.9208 / n)"
_W_RAD = f"(1.96 * SQRT(({_W_P} * (1 - {_W_P}) + 0.9604 / n) / n))"


@query(
    "events_wilson_ci_conversion",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted,
               MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                   AS signed_up,
               MAX(CASE WHEN event_type = 'purchase' AND value > 300
                        THEN 1 ELSE 0 END) AS big_buyer
        FROM events GROUP BY user_id
    ),
    metrics AS (
        SELECT 'purchase_rate' AS metric,
               CAST(SUM(converted) AS BIGINT) AS c,
               CAST(COUNT(*) AS BIGINT) AS n FROM per_user
        UNION ALL
        SELECT 'signup_rate', CAST(SUM(signed_up) AS BIGINT),
               CAST(COUNT(*) AS BIGINT) FROM per_user
        UNION ALL
        SELECT 'big_buyer_rate', CAST(SUM(big_buyer) AS BIGINT),
               CAST(COUNT(*) AS BIGINT) FROM per_user
    )
    SELECT metric, c AS n_hits, n AS n_users,
           ROUND({_W_P}, 6) AS rate,
           ROUND(({_W_CTR} - {_W_RAD}) / {_W_DEN}, 6) AS wilson_lo,
           ROUND(({_W_CTR} + {_W_RAD}) / {_W_DEN}, 6) AS wilson_hi
    FROM metrics
    """,
)
def events_wilson_ci_conversion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilson score 95% intervals for per-user conversion proportions
    (purchase, signup, purchase>300) — the binomial interval that stays
    inside [0,1] and behaves at small n or extreme rates where the Wald
    interval collapses (the reason every experimentation platform
    defaults to Wilson). Complements ``events_poisson_rate_ci`` (rates
    per time) with rates per user.

    One per-user hash aggregate (the same first shuffle every funnel op
    shares), three 1-row counter frames unioned, and closed-form Wilson
    arithmetic from exact integers — the z²=3.8416 constants are spelled
    in the shared expression text, so both engines round identical
    doubles.
    """
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted"),
        F.max((F.col("event_type") == "signup").cast("int")).alias(
            "signed_up"
        ),
        F.max(
            (
                (F.col("event_type") == "purchase") & (F.col("value") > 300)
            ).cast("int")
        ).alias("big_buyer"),
    )
    rows = []
    for name, col in (
        ("purchase_rate", "converted"),
        ("signup_rate", "signed_up"),
        ("big_buyer_rate", "big_buyer"),
    ):
        rows.append(
            per_user.agg(
                F.lit(name).alias("metric"),
                F.sum(col).cast("bigint").alias("c"),
                F.count("*").cast("bigint").alias("n"),
            )
        )
    metrics = rows[0]
    for r in rows[1:]:
        metrics = metrics.unionByName(r)
    return metrics.select(
        "metric",
        F.col("c").alias("n_hits"),
        F.col("n").alias("n_users"),
        F.expr(f"ROUND({_W_P}, 6)").alias("rate"),
        F.expr(f"ROUND(({_W_CTR} - {_W_RAD}) / {_W_DEN}, 6)").alias(
            "wilson_lo"
        ),
        F.expr(f"ROUND(({_W_CTR} + {_W_RAD}) / {_W_DEN}, 6)").alias(
            "wilson_hi"
        ),
    )


# Runs-test closed forms (n1 = days above median, n0 = at-or-below,
# r = observed runs): E[R] = 1 + 2 n1 n0 / n, Var[R] per Wald-Wolfowitz.
_RT_ER = "(1 + CAST(2 AS DOUBLE) * n1 * n0 / (n1 + n0))"
_RT_VR = (
    "((CAST(2 AS DOUBLE) * n1 * n0) * (CAST(2 AS DOUBLE) * n1 * n0 - n1 - n0)"
    " / ((CAST(n1 + n0 AS DOUBLE)) * (n1 + n0) * (n1 + n0 - 1)))"
)


@query(
    "orders_runs_test_randomness",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1
    ),
    med AS (
        SELECT rev AS m FROM daily
        ORDER BY rev
        LIMIT 1 OFFSET (SELECT (COUNT(*) - 1) // 2 FROM daily)
    ),
    flags AS (
        SELECT d, CASE WHEN rev > (SELECT m FROM med) THEN 1 ELSE 0 END AS f
        FROM daily
    ),
    runs AS (
        SELECT f,
               CASE WHEN LAG(f) OVER (ORDER BY d) IS NULL
                         OR LAG(f) OVER (ORDER BY d) <> f
                    THEN 1 ELSE 0 END AS new_run
        FROM flags
    ),
    agg AS (
        SELECT CAST(SUM(new_run) AS BIGINT) AS r,
               CAST(SUM(f) AS BIGINT) AS n1,
               CAST(SUM(1 - f) AS BIGINT) AS n0
        FROM runs
    )
    SELECT r AS n_runs, n1 AS n_above, n0 AS n_below,
           ROUND({_RT_ER}, 6) AS expected_runs,
           ROUND((r - {_RT_ER}) / SQRT({_RT_VR}), 6) AS z
    FROM agg
    """,
)
def orders_runs_test_randomness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wald-Wolfowitz RUNS TEST on daily revenue: is the above/below-
    median sequence random, or does it trend/cluster? z far below 0 =
    long runs (momentum, regime shifts — seasonal models required);
    z above 0 = alternation (overdispersed noise). The one-number
    sanity check before trusting an i.i.d. assumption in forecast
    evaluation (``orders_forecast_naive_eval``).

    Daily revenue collapses map-side to |days| DECIMAL rows; the exact
    median is an ORDER-LIMIT-OFFSET pick (discrete, no interpolation),
    and runs count through one lag over the tiny frame. All test inputs
    are exact integers; the z arithmetic is shared text.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    n_days = daily.count()
    med = (
        daily.orderBy("rev")
        .limit((n_days - 1) // 2 + 1)
        .orderBy(F.col("rev").desc())
        .limit(1)
        .select(F.col("rev").alias("m"))
    )
    flags = daily.crossJoin(F.broadcast(med)).select(
        "d", (F.col("rev") > F.col("m")).cast("int").alias("f")
    )
    w = Window.orderBy("d")
    runs = flags.select(
        "f",
        F.when(
            F.lag("f").over(w).isNull() | (F.lag("f").over(w) != F.col("f")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("new_run").cast("bigint").alias("r"),
        F.sum("f").cast("bigint").alias("n1"),
        F.sum(1 - F.col("f")).cast("bigint").alias("n0"),
    )
    return agg.select(
        F.col("r").alias("n_runs"),
        F.col("n1").alias("n_above"),
        F.col("n0").alias("n_below"),
        F.expr(f"ROUND({_RT_ER}, 6)").alias("expected_runs"),
        F.expr(f"ROUND((r - {_RT_ER}) / SQRT({_RT_VR}), 6)").alias("z"),
    )


# CUPED arithmetic from exact per-variant DECIMAL moments (pooled theta).
_CU_VARX = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)"
_CU_COV = "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)"
_CU_THETA = f"({_CU_COV} / {_CU_VARX})"


@query(
    "events_ab_cuped",
    oracle=f"""
    WITH bounds AS (
        SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi FROM events
    ),
    per_user AS (
        SELECT user_id,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6))::BIGINT
                   % 2 AS variant,
               SUM(CASE WHEN epoch_us(ts) * 2 < (SELECT lo + hi FROM bounds)
                        THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS x,
               SUM(CASE WHEN epoch_us(ts) * 2 >= (SELECT lo + hi FROM bounds)
                             AND event_type = 'purchase'
                        THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS y
        FROM events GROUP BY user_id
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy,
               SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS nb,
               SUM(CASE WHEN variant = 1 THEN y ELSE CAST(0 AS
                   DECIMAL(18,2)) END) AS syb,
               SUM(CASE WHEN variant = 1 THEN x ELSE CAST(0 AS
                   DECIMAL(18,2)) END) AS sxb
        FROM per_user
    )
    SELECT n AS n_users,
           CAST(nb AS BIGINT) AS n_treatment,
           ROUND({_CU_THETA}, 6) AS theta,
           ROUND(CAST(syb AS DOUBLE) / nb
                 - CAST(sy - syb AS DOUBLE) / (n - nb), 6) AS diff_raw,
           ROUND((CAST(syb AS DOUBLE) / nb
                  - CAST(sy - syb AS DOUBLE) / (n - nb))
                 - {_CU_THETA} * (CAST(sxb AS DOUBLE) / nb
                                  - CAST(sx - sxb AS DOUBLE) / (n - nb)),
                 6) AS diff_cuped
    FROM mom
    """,
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B readout: the pre-period covariate (each user's
    total event value in the first half of the span) absorbs between-
    user variance from the experiment metric (purchase revenue in the
    second half) via y − θ(x − x̄), θ = cov(x,y)/var(x) — the standard
    variance-reduction every large experimentation platform applies
    (Deng et al.), here with identity-hash variant assignment shared
    with ``events_ab_lift``. ``diff_cuped`` vs ``diff_raw`` shows the
    imbalance the covariate removed.

    One per-user aggregate with exact DECIMAL (x, y) sums, then ONE
    1-row moment frame (Σx, Σy, Σx², Σxy as DECIMAL — order-independent)
    feeding closed-form shared-text arithmetic. Nothing scales past the
    per-user shuffle.
    """
    e = table(spark, sf_dir, "events")
    b = e.agg(
        (F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))).alias(
            "lohi"
        )
    )
    dv = F.col("value").cast("decimal(18,2)")
    per_user = (
        e.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.unix_micros("ts") * 2 < F.col("lohi"), dv).otherwise(
                    F.lit(0).cast("decimal(18,2)")
                )
            ).alias("x"),
            F.sum(
                F.when(
                    (F.unix_micros("ts") * 2 >= F.col("lohi"))
                    & (F.col("event_type") == "purchase"),
                    dv,
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ).alias("y"),
        )
        .withColumn(
            "variant",
            (
                F.conv(
                    F.substring(
                        F.md5(F.col("user_id").cast("string")), 1, 6
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ),
        )
    )
    mom = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum((F.col("variant") == 1).cast("long")).alias("nb"),
        F.sum(
            F.when(F.col("variant") == 1, F.col("y")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ).alias("syb"),
        F.sum(
            F.when(F.col("variant") == 1, F.col("x")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ).alias("sxb"),
    )
    return mom.select(
        F.col("n").alias("n_users"),
        F.col("nb").cast("bigint").alias("n_treatment"),
        F.expr(f"ROUND({_CU_THETA}, 6)").alias("theta"),
        F.expr(
            "ROUND(CAST(syb AS DOUBLE) / nb"
            " - CAST(sy - syb AS DOUBLE) / (n - nb), 6)"
        ).alias("diff_raw"),
        F.expr(
            f"ROUND((CAST(syb AS DOUBLE) / nb"
            f" - CAST(sy - syb AS DOUBLE) / (n - nb))"
            f" - {_CU_THETA} * (CAST(sxb AS DOUBLE) / nb"
            f" - CAST(sx - sxb AS DOUBLE) / (n - nb)), 6)"
        ).alias("diff_cuped"),
    )


@query(
    "events_growth_accounting",
    oracle="""
    WITH um AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS TIMESTAMP) AS m
        FROM events
    ),
    first_m AS (
        SELECT user_id, MIN(m) AS m0 FROM um GROUP BY user_id
    ),
    flags AS (
        SELECT um.user_id, um.m,
               CASE WHEN um.m = f.m0 THEN 1 ELSE 0 END AS is_new,
               CASE WHEN prev.user_id IS NOT NULL THEN 1 ELSE 0 END
                   AS was_active_prev
        FROM um
        JOIN first_m f ON um.user_id = f.user_id
        LEFT JOIN um prev
          ON prev.user_id = um.user_id
         AND prev.m = um.m - INTERVAL 7 DAY
    ),
    monthly AS (
        SELECT m,
               CAST(SUM(is_new) AS BIGINT) AS new_users,
               CAST(SUM(CASE WHEN is_new = 0 AND was_active_prev = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS retained,
               CAST(SUM(CASE WHEN is_new = 0 AND was_active_prev = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
        FROM flags GROUP BY m
    ),
    churn AS (
        SELECT cur.m + INTERVAL 7 DAY AS m,
               CAST(COUNT(*) AS BIGINT) AS churned
        FROM um cur
        LEFT JOIN um nxt
          ON nxt.user_id = cur.user_id
         AND nxt.m = cur.m + INTERVAL 7 DAY
        WHERE nxt.user_id IS NULL
        GROUP BY cur.m
    )
    SELECT monthly.m AS week, new_users, retained, resurrected,
           COALESCE(churn.churned, 0) AS churned_from_prev
    FROM monthly LEFT JOIN churn ON churn.m = monthly.m
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAU GROWTH ACCOUNTING — the standard four-way decomposition every
    growth team reports: each week's actives split into new (first week
    ever), retained (active last week too), resurrected (active before,
    skipped last week), plus the users churned out of the previous
    week. The identity WAU(t) = new + retained + resurrected and
    ΔWAU = new + resurrected − churned makes silent double-counting
    impossible — the oracle pins all four series. (Weekly because the
    fixture's event stream spans ~30 days; the shape is
    granularity-agnostic.)

    Events collapse once to distinct (user, week) — the frame every
    term derives from; adjacency is a self-join on week±7d of that
    collapsed frame (user-keyed shuffle), never on raw events.
    """
    e = table(spark, sf_dir, "events")
    um = e.select(
        "user_id", F.date_trunc("week", "ts").alias("m")
    ).distinct()
    first_m = um.groupBy("user_id").agg(F.min("m").alias("m0"))
    prev = um.select(
        "user_id",
        F.expr("m + INTERVAL 7 DAY").alias("m"),
    ).withColumn("was_active_prev", F.lit(1))
    flags = (
        um.join(first_m, "user_id")
        .join(prev, ["user_id", "m"], "left")
        .select(
            "m",
            (F.col("m") == F.col("m0")).cast("int").alias("is_new"),
            F.coalesce("was_active_prev", F.lit(0)).alias(
                "was_active_prev"
            ),
        )
    )
    monthly = flags.groupBy("m").agg(
        F.sum("is_new").cast("bigint").alias("new_users"),
        F.sum(
            ((F.col("is_new") == 0) & (F.col("was_active_prev") == 1)).cast(
                "long"
            )
        )
        .cast("bigint")
        .alias("retained"),
        F.sum(
            ((F.col("is_new") == 0) & (F.col("was_active_prev") == 0)).cast(
                "long"
            )
        )
        .cast("bigint")
        .alias("resurrected"),
    )
    nxt = um.select(
        "user_id",
        F.expr("m - INTERVAL 7 DAY").alias("m"),
    ).withColumn("active_next", F.lit(1))
    churn = (
        um.join(nxt, ["user_id", "m"], "left")
        .filter(F.col("active_next").isNull())
        .groupBy(F.expr("m + INTERVAL 7 DAY").alias("m"))
        .agg(F.count("*").cast("bigint").alias("churned"))
    )
    return (
        monthly.join(churn, "m", "left")
        .select(
            F.col("m").alias("week"),
            "new_users",
            "retained",
            "resurrected",
            F.coalesce("churned", F.lit(0))
            .cast("bigint")
            .alias("churned_from_prev"),
        )
    )


# events-count threshold below which QTE ranks via a plain 2-partition
# window (fixed cost beats the two-phase machinery's extra jobs on small
# frames); above it, per-variant two-phase bucket-cut ranks take over.
QTE_LOCAL_ROWS = 2_000_000


@query(
    "events_quantile_treatment_effect",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6))::BIGINT
                   % 2 AS variant,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(value AS DECIMAL(18,2))
                        ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT variant, y,
               ROW_NUMBER() OVER (PARTITION BY variant
                                  ORDER BY y ASC, user_id ASC) AS rn,
               COUNT(*) OVER (PARTITION BY variant) AS n
        FROM per_user
    ),
    qs AS (
        SELECT variant,
               MIN(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                        THEN y END) AS q25,
               MIN(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
                        THEN y END) AS q50,
               MIN(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
                        THEN y END) AS q75,
               MIN(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT)
                        THEN y END) AS q90
        FROM ranked GROUP BY variant
    )
    SELECT p, CAST(qa AS DOUBLE) AS control_q,
           CAST(qb AS DOUBLE) AS treatment_q,
           CAST(qb - qa AS DOUBLE) AS qte
    FROM (
        SELECT 25 AS p, a.q25 AS qa, b.q25 AS qb FROM qs a, qs b
        WHERE a.variant = 0 AND b.variant = 1
        UNION ALL
        SELECT 50, a.q50, b.q50 FROM qs a, qs b
        WHERE a.variant = 0 AND b.variant = 1
        UNION ALL
        SELECT 75, a.q75, b.q75 FROM qs a, qs b
        WHERE a.variant = 0 AND b.variant = 1
        UNION ALL
        SELECT 90, a.q90, b.q90 FROM qs a, qs b
        WHERE a.variant = 0 AND b.variant = 1
    )
    """,
)
def events_quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile treatment effects for the hash-assigned A/B experiment:
    the per-user revenue difference at the 25/50/75/90th percentiles —
    where mean lift (``events_ab_lift``) hides WHO moved, the QTE curve
    shows whether a treatment lifted the median user or only stretched
    the top decile (the long-tail question every revenue experiment
    ends with).

    Per-user metric and variant come from the shared identity-hash
    aggregate; each variant's discrete quantiles are exact
    (rank = ceil(p·n) under a total order) with the rank produced by
    the two-phase bucket-cut machinery per variant — a
    Window.partitionBy(variant) would be a 2-partition single-task
    sort of |users|/2 at scale. The 4-row QTE grid joins two 1-row
    quantile frames.
    """
    e = table(spark, sf_dir, "events")
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(18,2)"),
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ).alias("y")
        )
        .withColumn(
            "variant",
            (
                F.conv(
                    F.substring(
                        F.md5(F.col("user_id").cast("string")), 1, 6
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ),
        )
    )
    # Size-adaptive ranking (the events_rfm_segments pattern): a
    # Window.partitionBy(variant) is 2 partitions — a single-task sort
    # of |users|/2, fine below QTE_LOCAL_ROWS, a WindowExec pathology
    # past it — where each variant instead ranks through the two-phase
    # bucket-cut machinery (cuts only balance buckets, never the
    # answer). Path equality is pinned by a unit test.
    from dataengineeringutils_spark.operators.windows import table_rows

    if table_rows(spark, sf_dir, "events") <= QTE_LOCAL_ROWS:
        w = Window.partitionBy("variant").orderBy(
            F.col("y").asc(), F.col("user_id").asc()
        )
        ranked = per_user.select(
            "variant",
            "y",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("variant")).alias("n"),
        )
    else:
        from dataengineeringutils_spark.operators.windows import (
            two_phase_global_rank,
        )

        # materialize the |users|-row frame once: the cuts sample and
        # both variant branches would otherwise recompute the events agg
        per_user = per_user.localCheckpoint(eager=True)
        cuts = sorted(
            set(
                per_user.sample(0.2, seed=7)
                .select(F.col("y").cast("double").alias("yd"))
                .approxQuantile("yd", [i / 16 for i in range(1, 16)], 0.02)
            )
        )
        ranked = None
        for v in (0, 1):
            part = two_phase_global_rank(
                per_user.filter(F.col("variant") == v).select(
                    "user_id", "y", "variant"
                ),
                "y",
                "user_id",
                cuts,
            )
            ranked = part if ranked is None else ranked.unionByName(part)
    qs = ranked.groupBy("variant").agg(
        *[
            F.min(
                F.when(
                    F.col("rn")
                    == F.ceil(F.lit(p / 100.0) * F.col("n")).cast("bigint"),
                    F.col("y"),
                )
            ).alias(f"q{p}")
            for p in (25, 50, 75, 90)
        ]
    )
    # Round-11 opt (guide §2.4): the 4-row grid used to be four
    # crossJoins of two filtered 1-row frames unioned together — eight
    # re-plans of the ranked subtree per action. One global aggregate
    # folds the 2-row qs frame to a single wide row (min(when) per
    # variant×percentile) and stack() unpivots it; the quantile values
    # are copied, not recomputed, so the grid is bit-identical.
    wide = qs.agg(
        *[
            F.min(
                F.when(F.col("variant") == v, F.col(f"q{p}"))
            ).alias(f"{'ab'[v]}{p}")
            for p in (25, 50, 75, 90)
            for v in (0, 1)
        ]
    )
    stack_expr = (
        "stack(4, "
        + ", ".join(f"{p}, a{p}, b{p}" for p in (25, 50, 75, 90))
        + ") AS (p, qa, qb)"
    )
    return wide.selectExpr(stack_expr).select(
        F.col("p").cast("int").alias("p"),
        F.col("qa").cast("double").alias("control_q"),
        F.col("qb").cast("double").alias("treatment_q"),
        (F.col("qb") - F.col("qa")).cast("double").alias("qte"),
    )


@query(
    "events_did_estimator",
    oracle="""
    WITH bounds AS (
        SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi FROM events
    ),
    cells AS (
        SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6))::BIGINT
                   % 2 AS variant,
               CASE WHEN epoch_us(ts) * 2 < (SELECT lo + hi FROM bounds)
                    THEN 0 ELSE 1 END AS period,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(value AS DECIMAL(18,2))
                        ELSE CAST(0 AS DECIMAL(18,2)) END) AS rev
        FROM events
        GROUP BY 1, 2
    ),
    wide AS (
        SELECT
          MAX(CASE WHEN variant = 0 AND period = 0
                   THEN CAST(rev AS DOUBLE) / n END) AS a_pre,
          MAX(CASE WHEN variant = 0 AND period = 1
                   THEN CAST(rev AS DOUBLE) / n END) AS a_post,
          MAX(CASE WHEN variant = 1 AND period = 0
                   THEN CAST(rev AS DOUBLE) / n END) AS b_pre,
          MAX(CASE WHEN variant = 1 AND period = 1
                   THEN CAST(rev AS DOUBLE) / n END) AS b_post
        FROM cells
    )
    SELECT ROUND(a_pre, 6) AS control_pre,
           ROUND(a_post, 6) AS control_post,
           ROUND(b_pre, 6) AS treat_pre,
           ROUND(b_post, 6) AS treat_post,
           ROUND((b_post - b_pre) - (a_post - a_pre), 6) AS did
    FROM wide
    """,
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES: per-event purchase revenue in the 2×2
    (variant × pre/post) grid, with DiD = (treatΔ − controlΔ) — the
    causal readout when assignment isn't randomized at the metric's
    grain (or a launch hit everyone and the 'control' is a parallel
    trend). The pre-period columns make the parallel-trends assumption
    INSPECTABLE: control_pre ≈ treat_pre is the sanity check, and the
    oracle pins all four cells, not just the headline.

    One pass: events aggregate directly to the 4-cell grid (variant by
    identity hash, period by the span midpoint — both derived in-query,
    no second scan), exact DECIMAL revenue sums, shared-text division.
    """
    e = table(spark, sf_dir, "events")
    b = e.agg(
        (F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))).alias(
            "lohi"
        )
    )
    cells = (
        e.crossJoin(F.broadcast(b))
        .groupBy(
            (
                F.conv(
                    F.substring(
                        F.md5(F.col("user_id").cast("string")), 1, 6
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ).alias("variant"),
            F.when(F.unix_micros("ts") * 2 < F.col("lohi"), 0)
            .otherwise(1)
            .alias("period"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(18,2)"),
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ).alias("rev"),
        )
    )
    wide = cells.agg(
        *[
            F.max(
                F.when(
                    (F.col("variant") == v) & (F.col("period") == p),
                    F.col("rev").cast("double") / F.col("n"),
                )
            ).alias(name)
            for v, p, name in (
                (0, 0, "a_pre"),
                (0, 1, "a_post"),
                (1, 0, "b_pre"),
                (1, 1, "b_post"),
            )
        ]
    )
    return wide.select(
        F.round("a_pre", 6).alias("control_pre"),
        F.round("a_post", 6).alias("control_post"),
        F.round("b_pre", 6).alias("treat_pre"),
        F.round("b_post", 6).alias("treat_post"),
        F.round(
            (F.col("b_post") - F.col("b_pre"))
            - (F.col("a_post") - F.col("a_pre")),
            6,
        ).alias("did"),
    )


@query(
    "events_retention_halflife",
    oracle="""
    WITH first_seen AS (
        SELECT user_id,
               CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_day
        FROM events GROUP BY user_id
    ),
    grid AS (
        SELECT f.cohort_day,
               DATE_DIFF('day', f.cohort_day,
                         CAST(date_trunc('week', e.ts) AS DATE)) / 7
                   AS week_n,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
        GROUP BY 1, 2
    ),
    rates AS (
        SELECT g.week_n,
               CAST(g.active AS DOUBLE) / g0.active AS r
        FROM grid g
        JOIN grid g0
          ON g0.cohort_day = g.cohort_day AND g0.week_n = 0
        WHERE g.week_n >= 1 AND g.cohort_day =
              (SELECT MIN(cohort_day) FROM first_seen)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_weeks,
           ROUND(regr_slope(ln(r), CAST(week_n AS DOUBLE)), 6) AS decay_slope,
           ROUND(-0.6931471805599453
                 / NULLIF(regr_slope(ln(r), CAST(week_n AS DOUBLE)), 0), 6)
               AS halflife_weeks
    FROM rates
    """,
)
def events_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention HALF-LIFE of the oldest cohort: fit ln(retention) ~
    week (exponential-decay model) by least squares and report
    −ln2/slope — the single number that compresses the retention curve
    for cross-release comparison ("the March cohort's half-life fell
    from 5.1 to 3.8 weeks" reads where a matrix doesn't). Read next to
    ``retention_cohort`` (the full matrix this summarizes). A zero
    slope (no decay — every user retained at every observed week, the
    sf0.001 fixture's case) yields NULL: the half-life is undefined,
    not infinite-by-crash (NULLIF on both engines).

    The cohort grid collapses from events once (the shared
    first-seen/week shape); the regression runs over the ≤|weeks|-row
    rate frame via ``regr_slope`` — the ln-based-aggregate convention
    (ROUND 6, off-grid irrational) the Zipf-slope op established.
    """
    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_day")
    )
    grid = (
        e.join(first_seen, "user_id")
        .groupBy(
            "cohort_day",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_day"),
                )
                / 7
            ).alias("week_n"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("active"))
    )
    oldest = first_seen.agg(F.min("cohort_day").alias("c0"))
    g0 = grid.filter(F.col("week_n") == 0).select(
        F.col("cohort_day").alias("cd0"), F.col("active").alias("base")
    )
    rates = (
        grid.crossJoin(F.broadcast(oldest))
        .filter(
            (F.col("cohort_day") == F.col("c0")) & (F.col("week_n") >= 1)
        )
        .join(F.broadcast(g0), F.col("cohort_day") == F.col("cd0"))
        .select(
            F.col("week_n").cast("double").alias("week_n"),
            (F.col("active").cast("double") / F.col("base")).alias("r"),
        )
    )
    return rates.agg(
        F.count("*").cast("bigint").alias("n_weeks"),
        F.round(F.regr_slope(F.log("r"), F.col("week_n")), 6).alias(
            "decay_slope"
        ),
        F.round(
            F.lit(-0.6931471805599453)
            / F.nullif(
                F.regr_slope(F.log("r"), F.col("week_n")), F.lit(0.0)
            ),
            6,
        ).alias("halflife_weeks"),
    )


@query(
    "events_audience_overlap",
    oracle="""
    WITH tu AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS u
        FROM tu GROUP BY event_type
    ),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS shared
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, shared,
           sa.u AS users_a, sb.u AS users_b,
           ROUND(CAST(shared AS DOUBLE) / (sa.u + sb.u - shared), 6)
               AS jaccard,
           ROUND(CAST(shared AS DOUBLE)
                 / LEAST(sa.u, sb.u), 6) AS containment
    FROM inter
    JOIN sizes sa ON sa.event_type = type_a
    JOIN sizes sb ON sb.event_type = type_b
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIENCE OVERLAP matrix between behaviors: Jaccard and
    containment of the user sets behind each event-type pair — the
    targeting/cannibalization read ("purchasers are a subset of
    clickers" vs "signups are a disjoint crowd") that decides whether
    two funnels compete for the same users. Containment is the
    asymmetric companion Jaccard hides when set sizes differ wildly.

    Events collapse once to the distinct (type, user) frame; the pair
    overlap is a user-keyed self-join of that collapsed frame — at
    100 TB the frame is |users|·|types| at most, and only counters
    leave the join. Exact integer ratios throughout.
    """
    e = table(spark, sf_dir, "events")
    tu = e.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("u")
    )
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("shared"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("u").alias("users_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("u").alias("users_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "shared",
            "users_a",
            "users_b",
            F.round(
                F.col("shared").cast("double")
                / (F.col("users_a") + F.col("users_b") - F.col("shared")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("shared").cast("double")
                / F.least("users_a", "users_b"),
                6,
            ).alias("containment"),
        )
    )


@query(
    "events_ks_two_sample",
    oracle="""
    WITH vals AS (
        SELECT value AS v,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c2
        FROM events
        WHERE event_type IN ('view', 'click') AND value IS NOT NULL
        GROUP BY value
    ),
    cum AS (
        SELECT SUM(c1) OVER w AS k1, SUM(c2) OVER w AS k2,
               (SELECT SUM(c1) FROM vals) AS n1,
               (SELECT SUM(c2) FROM vals) AS n2
        FROM vals
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    dmax AS (
        SELECT n1, n2,
               MAX(ABS(CAST(k1 * n2 - k2 * n1 AS DOUBLE))) AS dnum
        FROM cum GROUP BY n1, n2
    )
    SELECT n1, n2,
           ROUND(dnum / (CAST(n1 AS DOUBLE) * n2), 6) AS ks_d,
           ROUND(1.358 * SQRT((CAST(n1 AS DOUBLE) + n2)
                              / (CAST(n1 AS DOUBLE) * n2)), 6)
               AS critical_05,
           dnum / (CAST(n1 AS DOUBLE) * n2)
               > 1.358 * SQRT((CAST(n1 AS DOUBLE) + n2)
                              / (CAST(n1 AS DOUBLE) * n2)) AS reject_05
    FROM dmax
    """,
)
def events_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV test between the value
    distributions of views and clicks: D = sup|ECDF₁ − ECDF₂| computed
    EXACTLY — the supremum runs over the distinct-value frame with the
    ECDF difference kept in INTEGERS (|k₁n₂ − k₂n₁| over the common
    denominator n₁n₂), so no float accumulates before the single final
    division. The distribution-shift screen that mean/variance tests
    miss (same mean, different shape), with the α=0.05 critical value
    and verdict in the output.

    Values collapse to one (value → c₁, c₂) frame first. Cumulative
    counts over that frame are stats-switched on the COLLAPSED frame's
    cardinality — an artifact-cached approx-distinct of ``value``
    (round-10 ADVICE: raw event rows overstate the windowed frame by
    however much the collapse dedups, paying the two-phase machinery
    for a few thousand distinct doubles): below ``two_phase_min_rows``
    the direct global window wins; at scale — where distinct doubles
    approach row count and an unpartitioned window would sort them on
    ONE task — both running counts ride the bucket-cut two-phase plan
    (``bucketed_running_sums``: one |buckets|-row aggregate, driver
    prefix scan, per-bucket windows) in a single shared pass. The
    supremum is one map-combined MAX.
    """
    from dataengineeringutils_spark.operators.windows import (
        bucketed_running_sums,
        sampled_cuts,
        table_distinct,
        two_phase_min_rows,
    )

    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
        & F.col("value").isNotNull()
    )
    vals = e.groupBy(F.col("value").alias("v")).agg(
        F.sum((F.col("event_type") == "view").cast("long"))
        .cast("bigint")
        .alias("c1"),
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("bigint")
        .alias("c2"),
    )
    if table_distinct(spark, sf_dir, "events", "value") < two_phase_min_rows():
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        cum = vals.select(
            F.sum("c1").over(w).alias("k1"),
            F.sum("c2").over(w).alias("k2"),
        )
        tot = vals.agg(
            F.sum("c1").cast("bigint").alias("n1"),
            F.sum("c2").cast("bigint").alias("n2"),
        )
    else:
        # cut sample, bucket aggregate, totals and the final cumsum all
        # consume the collapsed frame — materialize it once
        vals = vals.localCheckpoint(eager=True)
        cuts = sampled_cuts(spark, sf_dir, "ks2s_v", vals, "v")
        cum = bucketed_running_sums(
            vals, "v", ["c1", "c2"], cuts, ["k1", "k2"]
        ).select("k1", "k2")
        tot = vals.agg(
            F.sum("c1").cast("bigint").alias("n1"),
            F.sum("c2").cast("bigint").alias("n2"),
        )
    cum = cum.crossJoin(F.broadcast(tot))
    dmax = cum.groupBy("n1", "n2").agg(
        F.max(
            F.abs(
                (F.col("k1") * F.col("n2") - F.col("k2") * F.col("n1"))
                .cast("double")
            )
        ).alias("dnum")
    )
    crit = (
        "1.358 * SQRT((CAST(n1 AS DOUBLE) + n2)"
        " / (CAST(n1 AS DOUBLE) * n2))"
    )
    return dmax.select(
        "n1",
        "n2",
        F.expr("ROUND(dnum / (CAST(n1 AS DOUBLE) * n2), 6)").alias("ks_d"),
        F.expr(f"ROUND({crit}, 6)").alias("critical_05"),
        F.expr(f"dnum / (CAST(n1 AS DOUBLE) * n2) > {crit}").alias(
            "reject_05"
        ),
    )


# Pearson r from exact integer/decimal moments (shared text).
_OC_R = (
    "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    " / (SQRT(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    " * SQRT(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
)


@query(
    "events_onboarding_ltv_corr",
    oracle=f"""
    WITH t0 AS (
        SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
    ),
    per_user AS (
        SELECT e.user_id,
               CAST(SUM(CASE WHEN e.ts < t0.first_ts + INTERVAL 1 HOUR
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               SUM(CASE WHEN e.ts >= t0.first_ts + INTERVAL 1 HOUR
                             AND e.event_type = 'purchase'
                        THEN CAST(e.value AS DECIMAL(18,2))
                        ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
        FROM events e JOIN t0 ON e.user_id = t0.user_id
        GROUP BY e.user_id
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(y * y) AS DOUBLE) AS syy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy
        FROM per_user
    )
    SELECT n AS n_users,
           ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_first_hour_events,
           ROUND(sy / n, 6) AS mean_later_revenue,
           ROUND({_OC_R}, 6) AS onboarding_ltv_r
    FROM mom
    """,
)
def events_onboarding_ltv_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does FIRST-HOUR activity predict later value? Pearson r between
    each user's event count in their first hour and their purchase
    revenue AFTER that hour — the activation-metric validation every
    growth team needs before anointing a "magic number" onboarding
    KPI (r ≈ 0 means the ritual metric is a superstition).

    Two passes over events (first-timestamp collapse broadcast back,
    then the per-user (x, y) aggregate) and ONE 1-row moment frame:
    x-moments are exact integers, y-moments exact DECIMALs until the
    final shared-text doubles, so both engines round identical values.
    """
    e = table(spark, sf_dir, "events")
    t0 = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    dv = F.col("value").cast("decimal(18,2)")
    cutoff = F.col("first_ts") + F.expr("INTERVAL 1 HOUR")
    per_user = (
        e.join(t0, "user_id")
        .groupBy("user_id")
        .agg(
            F.sum((F.col("ts") < cutoff).cast("long"))
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(
                    (F.col("ts") >= cutoff)
                    & (F.col("event_type") == "purchase"),
                    dv,
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ).alias("y"),
        )
    )
    mom = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    return mom.select(
        F.col("n").alias("n_users"),
        F.expr("ROUND(CAST(sx AS DOUBLE) / n, 6)").alias(
            "mean_first_hour_events"
        ),
        F.expr("ROUND(sy / n, 6)").alias("mean_later_revenue"),
        F.expr(f"ROUND({_OC_R}, 6)").alias("onboarding_ltv_r"),
    )


@query(
    "events_weekend_value_gap",
    oracle="""
    WITH tagged AS (
        SELECT event_type,
               CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS wkd,
               CAST(value AS DECIMAL(18,2)) AS v
        FROM events WHERE value IS NOT NULL
    ),
    cells AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN wkd = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_we,
               CAST(SUM(CASE WHEN wkd = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_wd,
               SUM(CASE WHEN wkd = 1 THEN v ELSE CAST(0 AS DECIMAL(18,2))
                   END) AS s_we,
               SUM(CASE WHEN wkd = 0 THEN v ELSE CAST(0 AS DECIMAL(18,2))
                   END) AS s_wd
        FROM tagged GROUP BY event_type
    )
    SELECT event_type, n_we AS weekend_events, n_wd AS weekday_events,
           ROUND(CAST(s_we AS DOUBLE) / n_we, 6) AS weekend_mean_value,
           ROUND(CAST(s_wd AS DOUBLE) / n_wd, 6) AS weekday_mean_value,
           ROUND((CAST(s_we AS DOUBLE) / n_we)
                 / (CAST(s_wd AS DOUBLE) / n_wd), 6) AS value_ratio
    FROM cells
    """,
)
def events_weekend_value_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend-vs-weekday VALUE gap per event type: the mean-value ratio
    that says whether weekend traffic is browse-heavy (ratio < 1 on
    purchases — defer campaigns) or intent-heavy (ratio > 1 — staff the
    fulfillment queue), the dollar-weighted companion to the volume
    punchcard (``events_punchcard`` counts, this values). Weekend =
    Saturday/Sunday; the dow tag is internal, so the engines' different
    weekday numberings cannot leak into results.

    One pass to |types| cells of exact integers and DECIMAL sums;
    shared-text divisions round identical doubles.
    """
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # Spark dayofweek: 1=Sun..7=Sat → weekend is {1, 7}
    wkd = F.dayofweek("ts").isin(1, 7).cast("int")
    dv = F.col("value").cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    cells = e.groupBy("event_type").agg(
        F.sum(wkd).cast("bigint").alias("n_we"),
        F.sum(1 - wkd).cast("bigint").alias("n_wd"),
        F.sum(F.when(wkd == 1, dv).otherwise(zero)).alias("s_we"),
        F.sum(F.when(wkd == 0, dv).otherwise(zero)).alias("s_wd"),
    )
    return cells.select(
        "event_type",
        F.col("n_we").alias("weekend_events"),
        F.col("n_wd").alias("weekday_events"),
        F.expr("ROUND(CAST(s_we AS DOUBLE) / n_we, 6)").alias(
            "weekend_mean_value"
        ),
        F.expr("ROUND(CAST(s_wd AS DOUBLE) / n_wd, 6)").alias(
            "weekday_mean_value"
        ),
        F.expr(
            "ROUND((CAST(s_we AS DOUBLE) / n_we)"
            " / (CAST(s_wd AS DOUBLE) / n_wd), 6)"
        ).alias("value_ratio"),
    )


@query(
    "events_dormancy_reactivation_lag",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events
    ),
    gaps AS (
        SELECT user_id,
               CAST(date_diff('day', LAG(d) OVER (
                   PARTITION BY user_id ORDER BY d), d) AS BIGINT)
                   AS gap_days
        FROM ud
    )
    SELECT CAST(gap_days AS INT) AS dormant_days,
           CAST(COUNT(*) AS BIGINT) AS n_returns,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM gaps
    WHERE gap_days >= 2
    GROUP BY gap_days
    """,
)
def events_dormancy_reactivation_lag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How long do RESURRECTED users stay away? The distribution of
    dormancy lengths (days between consecutive active days, ≥2 = at
    least one fully dark day; the 30-day fixture stream makes DAYS the
    natural grain — the shape is granularity-agnostic) — the number
    that sizes reactivation campaigns: mass at 2-3 days means
    win-backs inside the week still land; a flat tail means the
    'resurrected' bucket in ``events_growth_accounting`` is mostly
    accidental returns.

    The shared distinct (user, day) collapse feeds one per-user lag
    window (fine-grained partitioning); the histogram is a tiny second
    collapse of exact integers.
    """
    e = table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    gaps = ud.select(
        "user_id",
        F.expr(
            "CAST(datediff(d, lag(d) OVER (PARTITION BY user_id "
            "ORDER BY d)) AS BIGINT)"
        ).alias("gap_days"),
    )
    return (
        gaps.filter(F.col("gap_days") >= 2)
        .groupBy(F.col("gap_days").cast("int").alias("dormant_days"))
        .agg(
            F.count("*").cast("bigint").alias("n_returns"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


@query(
    "events_spike_attribution",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s1,
               SUM(CAST(c AS DECIMAL(38,0)) * c) AS s2
        FROM daily
    ),
    spike AS (
        SELECT d FROM daily CROSS JOIN stats
        ORDER BY ABS(CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / n) DESC,
                 d ASC
        LIMIT 1
    ),
    mix AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                                  = (SELECT d FROM spike)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_spike,
               CAST(SUM(CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                                  <> (SELECT d FROM spike)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_base
        FROM events GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(SUM(n_spike) AS BIGINT) AS ts_,
               CAST(SUM(n_base) AS BIGINT) AS tb FROM mix
    )
    SELECT CAST((SELECT d FROM spike) AS TIMESTAMP) AS spike_day,
           event_type,
           n_spike,
           ROUND(CAST(n_spike AS DOUBLE) / ts_, 6) AS spike_share,
           ROUND(CAST(n_base AS DOUBLE) / tb, 6) AS baseline_share,
           ROUND(CAST(n_spike AS DOUBLE) / ts_
                 - CAST(n_base AS DOUBLE) / tb, 6) AS share_delta
    FROM mix CROSS JOIN tot
    """,
)
def events_spike_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spike ATTRIBUTION: find the most anomalous day (largest absolute
    deviation from the mean daily volume, deterministic date
    tie-break), then decompose WHO caused it — each event type's share
    on the spike day vs its all-other-days baseline. ``share_delta`` is
    the incident-review answer ("the spike was 90% clicks — a crawler,
    not a launch") that the anomaly DETECTORS (``dq_row_count_anomaly``,
    ``events_zscore_anomaly``) deliberately stop short of.

    One daily collapse + 1-row moments pick the spike day (a bounded
    ORDER-LIMIT over |days| counters); one conditional aggregate per
    type splits spike vs baseline in a single events pass. Exact
    integers into shared-text shares.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count("*").cast("bigint").alias("c"))
    stats = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
    )
    spike = (
        daily.crossJoin(F.broadcast(stats))
        .orderBy(
            F.abs(
                F.col("c").cast("double")
                - F.col("s1").cast("double") / F.col("n")
            ).desc(),
            F.col("d").asc(),
        )
        .limit(1)
        .select(F.col("d").alias("spike_d"))
    )
    mix = (
        e.crossJoin(F.broadcast(spike))
        .groupBy("event_type")
        .agg(
            F.sum(
                (
                    F.date_trunc("day", "ts").cast("date")
                    == F.col("spike_d")
                ).cast("long")
            )
            .cast("bigint")
            .alias("n_spike"),
            F.sum(
                (
                    F.date_trunc("day", "ts").cast("date")
                    != F.col("spike_d")
                ).cast("long")
            )
            .cast("bigint")
            .alias("n_base"),
            F.first("spike_d").alias("spike_d"),
        )
    )
    tot = mix.agg(
        F.sum("n_spike").cast("bigint").alias("ts_"),
        F.sum("n_base").cast("bigint").alias("tb"),
    )
    return mix.crossJoin(F.broadcast(tot)).select(
        F.col("spike_d").cast("timestamp").alias("spike_day"),
        "event_type",
        "n_spike",
        F.expr("ROUND(CAST(n_spike AS DOUBLE) / ts_, 6)").alias(
            "spike_share"
        ),
        F.expr("ROUND(CAST(n_base AS DOUBLE) / tb, 6)").alias(
            "baseline_share"
        ),
        F.expr(
            "ROUND(CAST(n_spike AS DOUBLE) / ts_"
            " - CAST(n_base AS DOUBLE) / tb, 6)"
        ).alias("share_delta"),
    )


# MDE closed form (80% power, two-sided alpha=.05): z constants spelled
# in shared text; inputs are exact integers.
_MDE_P = "(CAST(c AS DOUBLE) / n)"
_MDE = (
    f"((1.959964 + 0.841621) * SQRT(2 * {_MDE_P} * (1 - {_MDE_P})"
    " / (CAST(n AS DOUBLE) / 2)))"
)


@query(
    "events_ab_mde",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted,
               MAX(CASE WHEN event_type = 'purchase' AND value > 200
                        THEN 1 ELSE 0 END) AS big,
               MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                   AS signed
        FROM events GROUP BY user_id
    ),
    metrics AS (
        SELECT 'purchase_rate' AS metric,
               CAST(SUM(converted) AS BIGINT) AS c,
               CAST(COUNT(*) AS BIGINT) AS n FROM per_user
        UNION ALL
        SELECT 'big_purchase_rate', CAST(SUM(big) AS BIGINT),
               CAST(COUNT(*) AS BIGINT) FROM per_user
        UNION ALL
        SELECT 'signup_rate', CAST(SUM(signed) AS BIGINT),
               CAST(COUNT(*) AS BIGINT) FROM per_user
    )
    SELECT metric,
           ROUND({_MDE_P}, 6) AS baseline_rate,
           n AS n_users,
           ROUND({_MDE}, 6) AS mde_absolute,
           ROUND({_MDE} / {_MDE_P}, 6) AS mde_relative
    FROM metrics
    """,
)
def events_ab_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINIMUM DETECTABLE EFFECT at the current audience size: for each
    conversion metric, the smallest absolute (and relative) lift a
    50/50 A/B test on this population can detect at 80% power /
    two-sided α = .05 — the experiment-DESIGN number that belongs
    before ``events_ab_lift`` ever runs: a planned 2% lift against a
    12% MDE is a test that cannot succeed, and this table says so
    before the traffic is spent.

    The shared per-user funnel aggregate plus three 1-row counter
    frames; the z-constant closed form evaluates from exact integers
    in shared expression text.
    """
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "converted"
        ),
        F.max(
            (
                (F.col("event_type") == "purchase") & (F.col("value") > 200)
            ).cast("int")
        ).alias("big"),
        F.max((F.col("event_type") == "signup").cast("int")).alias(
            "signed"
        ),
    )
    rows = []
    for name, col in (
        ("purchase_rate", "converted"),
        ("big_purchase_rate", "big"),
        ("signup_rate", "signed"),
    ):
        rows.append(
            per_user.agg(
                F.lit(name).alias("metric"),
                F.sum(col).cast("bigint").alias("c"),
                F.count("*").cast("bigint").alias("n"),
            )
        )
    metrics = rows[0]
    for r in rows[1:]:
        metrics = metrics.unionByName(r)
    return metrics.select(
        "metric",
        F.expr(f"ROUND({_MDE_P}, 6)").alias("baseline_rate"),
        F.col("n").alias("n_users"),
        F.expr(f"ROUND({_MDE}, 6)").alias("mde_absolute"),
        F.expr(f"ROUND({_MDE} / {_MDE_P}, 6)").alias("mde_relative"),
    )


@query(
    "events_feature_adoption_curve",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(ts) AS t0,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_share
        FROM events GROUP BY user_id
    ),
    adopters AS (
        SELECT CAST(date_diff('day', t0, t_share) AS BIGINT) AS d
        FROM firsts WHERE t_share IS NOT NULL
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_adopters,
               CAST((SELECT COUNT(*) FROM firsts) AS BIGINT) AS n_users
        FROM adopters
    )
    SELECT CAST(d AS INT) AS days_to_adoption,
           CAST(COUNT(*) AS BIGINT) AS n_adopted,
           ROUND(CAST(SUM(COUNT(*)) OVER (
                     ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS DOUBLE) / n_adopters, 6) AS cum_share_of_adopters,
           ROUND(CAST(SUM(COUNT(*)) OVER (
                     ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS DOUBLE) / n_users, 6) AS cum_share_of_users
    FROM adopters CROSS JOIN tot
    GROUP BY d, n_adopters, n_users
    """,
)
def events_feature_adoption_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FEATURE-ADOPTION latency curve for the signup conversion: of the
    users who ever sign up, what fraction did so within d days of their
    first activity (plus the same curve over ALL users) — the
    activation-team read that separates "discoverability problem"
    (adopters exist but take weeks) from "appeal problem" (the
    all-users curve plateaus low) — two different fixes.

    One per-user first-timestamps aggregate (a conditional MIN rides
    the same pass), a |days|-scale histogram, and cumulative windows
    over that tiny frame. Exact integer day arithmetic. Both
    denominators (n_users, n_adopters) ride ONE 1-row broadcast totals
    frame — no eager driver-side ``firsts.count()`` job blocking plan
    construction (round-9 VERDICT #3); test_new_ops_plans.py pins the
    job count.
    """
    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("t_share"),
    )
    adopters = firsts.filter(F.col("t_share").isNotNull()).select(
        F.datediff(
            F.col("t_share").cast("date"), F.col("t0").cast("date")
        )
        .cast("bigint")
        .alias("d")
    )
    hist = adopters.groupBy("d").agg(
        F.count("*").cast("bigint").alias("n_adopted")
    )
    tot = firsts.agg(
        F.count(F.when(F.col("t_share").isNotNull(), 1))
        .cast("bigint")
        .alias("n_adopters"),
        F.count("*").cast("bigint").alias("n_users"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return hist.crossJoin(F.broadcast(tot)).select(
        F.col("d").cast("int").alias("days_to_adoption"),
        "n_adopted",
        F.round(
            F.sum("n_adopted").over(w).cast("double") / F.col("n_adopters"),
            6,
        ).alias("cum_share_of_adopters"),
        F.round(
            F.sum("n_adopted").over(w).cast("double") / F.col("n_users"), 6
        ).alias("cum_share_of_users"),
    )
