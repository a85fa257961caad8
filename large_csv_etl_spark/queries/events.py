"""Event analytics (§2b): JSON props, event-time windows, sessionization,
pivot. Batch forms here (oracle-comparable); ``large_csv_etl_spark.streaming``
carries the Structured Streaming variants of the windowed aggregations.

Oracle note: every oracle below reads events through ``ev`` = events with
``CAST(ts AS TIMESTAMP)``. With the nanos-precision fixture revision this
is DuckDB's ns->us truncation, bit-matching the engine-side
``timestamp_micros(ts div 1000)`` rebuild in io.load_table; with the
micros fixture revision both casts are no-ops. Either way the two engines
agree at micros precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from .helpers import (
    DEC,
    dsum,
    materialize_reduced,
    sql_dsum,
    sql_tvd_expr,
    tvd_fixed_point_aggs,
    tvd_from_fixed_point,
)

QUERIES = {}
ORACLES = {}


def _q(name, oracle=None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


@_q(
    "events_hourly_tumbling",
    f"""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM ev
    GROUP BY 1, 2
    """,
)
def events_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window (batch form of
    ``groupBy(window(ts, '1 hour'))`` — date_trunc is the oracle-friendly
    equivalent for aligned tumbling windows)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
    )


@_q(
    "events_json_props",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket
    FROM events
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the ``props`` string column
    (get_json_object — JVM-side, no Python UDF)."""
    df = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return df.select(
        "event_id", k.alias("prop_k"), (k % 10).alias("k_bucket")
    )


@_q(
    "events_sessionization",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events), flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END
               AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id,
             -- BIGINT cast: DuckDB types SUM(int) as HUGEINT; Spark's
             -- running sum is BIGINT and the grader hashes result types.
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) via lag + running
    sum — the batch equivalent of Structured Streaming's session_window.
    One shuffle on user_id; both window passes share the partitioning."""
    df = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # Compare at micros (not cast-to-long seconds) so boundary gaps agree
    # exactly with the oracle's `ts - LAG(ts) <= INTERVAL 30 MINUTE`.
    # unix_micros requires TIMESTAMP; parquet without isAdjustedToUTC reads
    # as TIMESTAMP_NTZ, and with a UTC session TZ the cast is a pure
    # reinterpretation (no wall-clock shift).
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_ok = ts_us - F.lag(ts_us).over(w) <= 1800 * 1_000_000
    flagged = df.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_ok, 0).otherwise(1).alias("new_session"),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(cum))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@_q(
    "events_type_pivot",
    f"""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           {sql_dsum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")}
             AS purchase_value
    FROM events
    GROUP BY user_id
    """,
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation (one pass, map-side combinable —
    scales where a true ``pivot()`` with inferred values would need an extra
    distinct pass)."""
    df = load_table(spark, sf_dir, "events")
    cnt = lambda t: F.sum(
        F.when(F.col("event_type") == t, 1).otherwise(0)
    ).alias(f"n_{t}")
    return df.groupBy("user_id").agg(
        cnt("click"),
        cnt("view"),
        cnt("purchase"),
        cnt("signup"),
        cnt("error"),
        dsum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("purchase_value"),
    )


@_q(
    "events_daily_active_users",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day_start,
           COUNT(DISTINCT user_id) AS dau,
           COUNT(*) AS n_events
    FROM ev
    GROUP BY 1
    """,
)
def events_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users — exact distinct per day (oracle-comparable;
    ``events_dau_approx`` below is the HLL++ sketch form you would run at
    100 TB)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day_start"))
        .agg(
            F.countDistinct("user_id").alias("dau"),
            F.count("*").alias("n_events"),
        )
    )


@_q("events_dau_approx")  # HLL++ sketch — engine-specific; rows-only
def events_dau_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate DAU via HyperLogLog++ (rsd 1%): the scale path — each
    day's partial state is a fixed-size sketch, so the shuffle no longer
    carries |distinct users| rows. Error vs exact is asserted in tests."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day_start"))
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("dau_approx"),
            F.count("*").alias("n_events"),
        )
    )


@_q(
    "events_sliding_window",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT win_start, event_type, COUNT(*) AS n_events
    FROM (
      -- every event lies in exactly two 1h/30min hopping windows, whose
      -- starts are the two 30-min boundaries at or before ts
      -- epoch_ms() returns a NAIVE timestamp; to_timestamp() returns
      -- TIMESTAMPTZ whose cast to naive goes through the DuckDB session
      -- zone and shifted the oracle +05:30 under TZ=Asia/Kolkata
      SELECT epoch_ms((CAST(FLOOR(EXTRACT(epoch FROM ts) / 1800) AS BIGINT)
                       * 1800 - s.off * 1800) * 1000) AS win_start,
             event_type
      FROM ev, (SELECT UNNEST([0, 1]) AS off) s
    )
    GROUP BY win_start, event_type
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time windows: 1-hour windows advancing every
    30 minutes — each event lands in exactly 2 windows. Spark's
    window(ts, '1 hour', '30 minutes') generates both assignments in the
    project (no join); the oracle reproduces it by unnesting the two
    half-hour-aligned starts each event covers."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("win_start"), "event_type", "n_events"
        )
    )


@_q(
    "events_cohort_retention",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    firsts AS (
      SELECT user_id, MIN(CAST(DATE_TRUNC('week', ts) AS TIMESTAMP)) AS cohort_week
      FROM ev GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, CAST(DATE_TRUNC('week', ts) AS TIMESTAMP) AS week
      FROM ev
    )
    SELECT f.cohort_week,
           CAST(DATEDIFF('day', f.cohort_week, a.week) / 7 AS BIGINT)
             AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_active
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY f.cohort_week, week_offset
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-seen week, then
    distinct-active counts at each week offset. Two aggregations over one
    user_id shuffle (first-seen reuses the activity exchange under AQE);
    the output is |weeks|^2/2 rows regardless of corpus size — the classic
    growth-analytics rollup, 100 TB-safe because everything reduces on
    user_id before the tiny cohort matrix is built."""
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    firsts = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weekly.join(firsts, "user_id")
        .withColumn(
            "week_offset",
            (F.datediff("week", "cohort_week") / 7).cast("bigint"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@_q(
    "events_funnel_ordered",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    s1 AS (
      SELECT user_id, MIN(ts) AS t_signup
      FROM ev WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, s1.t_signup, MIN(e.ts) AS t_click
      FROM ev e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t_signup
      GROUP BY e.user_id, s1.t_signup
    ), s3 AS (
      SELECT e.user_id, s2.t_click, MIN(e.ts) AS t_purchase
      FROM ev e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
      GROUP BY e.user_id, s2.t_click
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n_signup,
           (SELECT COUNT(*) FROM s2) AS n_click_after,
           (SELECT COUNT(*) FROM s3) AS n_purchase_after
    """,
)
def events_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: first signup -> first later click ->
    first later purchase, counted per stage. Each stage is a per-user MIN
    over the previous stage's frontier — three aggs sharing one user_id
    partitioning (AQE reuses the exchange), never a per-user event sort.
    COUNTs are BIGINT in both engines (no SUM typing hazard)."""
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s1.agg(F.count("*").alias("n_signup"))
        .crossJoin(s2.agg(F.count("*").alias("n_click_after")))
        .crossJoin(s3.agg(F.count("*").alias("n_purchase_after")))
    )


@_q(
    "events_daily_gap_fill",
    f"""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    daily AS (
      SELECT user_id, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
             {sql_dsum('value')} AS day_value
      FROM ev GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
    ), cal AS (
      SELECT user_id, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM span
    )
    SELECT c.user_id, c.day,
           LAST_VALUE(d.day_value IGNORE NULLS) OVER (
             PARTITION BY c.user_id ORDER BY c.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS day_value_ffill,
           CASE WHEN d.day_value IS NULL THEN 0 ELSE 1 END AS is_observed
    FROM cal c
    LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
    """,
)
def events_daily_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample: per-user daily totals on a gap-free calendar
    (sequence + explode densifies each user's [first, last] day span), with
    missing days forward-filled from the last observed value. The calendar
    is generated from the per-user span agg — O(days) rows per user, never
    a global date cross-join — and the forward fill is one
    last(ignorenulls) window pass sharing the user_id shuffle. This is the
    standard feature-store densification step before sequence models."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(dsum("value").alias("day_value"))
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cal.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.last("day_value", ignorenulls=True).over(w).alias("day_value_ffill"),
        F.when(F.col("day_value").isNull(), 0).otherwise(1).alias("is_observed"),
    )


@_q(
    "events_type_run_intervals",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = LAG(event_type) OVER w THEN 0 ELSE 1 END
               AS chg
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT user_id, ts, event_type,
             CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS run_id
      FROM flagged
    )
    SELECT user_id, run_id, MIN(event_type) AS event_type,
           COUNT(*) AS n_events, MIN(ts) AS valid_from, MAX(ts) AS valid_to
    FROM runs
    GROUP BY user_id, run_id
    """,
)
def events_type_run_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of each user's event-type stream into
    [valid_from, valid_to] intervals — the SCD-2 dimension-build pattern
    (collapse consecutive equal states, keep change boundaries). Same
    lag + running-sum skeleton as sessionization, keyed on value change
    instead of time gap; one user_id shuffle shared by both window passes
    and the final agg. SUM cast to BIGINT in the oracle (HUGEINT rule)."""
    df = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chg = F.when(
        F.col("event_type") == F.lag("event_type").over(w), 0
    ).otherwise(1)
    runs = df.select(
        "user_id", "ts", "event_id", "event_type", chg.alias("chg")
    ).withColumn("run_id", F.sum("chg").over(cum))
    return runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("event_type"),
        F.count("*").alias("n_events"),
        F.min("ts").alias("valid_from"),
        F.max("ts").alias("valid_to"),
    )


@_q(
    "events_props_map_explode",
    """
    SELECT event_id, k AS prop_key,
           json_extract_string(props, '$.' || k) AS prop_value
    FROM (SELECT event_id, props, UNNEST(json_keys(props)) AS k FROM events)
    """,
)
def events_props_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless JSON props as a MapType: parse once with
    ``from_json(map<string,string>)`` and explode to (key, value) rows —
    the shape for property stores whose keys vary per event (a fixed
    struct schema would silently drop novel keys). Row-local expansion,
    no shuffle; at 100 TB the map parse is the scan-time cost and the
    downstream agg sees only the exploded pairs."""
    df = load_table(spark, sf_dir, "events")
    return df.select(
        "event_id",
        F.explode(F.from_json(F.col("props"), "map<string,string>")).alias(
            "prop_key", "prop_value"
        ),
    )


@_q(
    "events_cumulative_users",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    firsts AS (
      SELECT user_id, MIN(CAST(DATE_TRUNC('day', ts) AS TIMESTAMP))
               AS first_day
      FROM ev GROUP BY user_id
    ), per_day AS (
      SELECT first_day AS day, COUNT(*) AS new_users
      FROM firsts GROUP BY first_day
    )
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM per_day
    """,
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day. Windows can't do COUNT(DISTINCT)
    over a growing frame, so this is the standard exact rewrite: each
    user reduces to a first-seen day, daily new-user counts aggregate,
    and one running sum over the tiny |days| series reconstructs the
    cumulative distinct curve — no growing per-window state at any
    scale. Running SUM cast BIGINT in the oracle (HUGEINT rule)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("first_day")
    )
    per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


@_q(
    "events_type_transitions",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM ev
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior transition matrix: counts of consecutive
    (prev event type -> next event type) pairs per user stream — the
    Markov-chain input for session modeling and anomaly scoring. One
    user_id shuffle for the lag, then a map-side-combinable count into a
    |types|^2-row matrix regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
    )


@_q(
    "events_zscore_anomaly",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    hourly AS (
      SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour_start,
             COUNT(*) AS n
      FROM ev GROUP BY 1
    ), stats AS (
      SELECT hour_start, n,
             CAST(SUM(n) OVER w AS BIGINT) AS s1,
             CAST(SUM(n * n) OVER w AS BIGINT) AS s2,
             COUNT(*) OVER w AS c
      FROM hourly
      WINDOW w AS (ORDER BY hour_start ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT hour_start, n,
           CASE WHEN c >= 12 THEN CAST(s1 AS DOUBLE) / c END AS mean_trailing,
           CASE WHEN c >= 12 THEN
             SQRT(GREATEST((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / c) / c,
                           0.0))
           END AS std_trailing,
           CASE WHEN c >= 12
                 AND SQRT(GREATEST((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / c) / c,
                           0.0)) > 0.0
                THEN (n - CAST(s1 AS DOUBLE) / c)
                     / SQRT(GREATEST((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / c) / c,
                           0.0))
           END AS zscore
    FROM stats
    """,
)
def events_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly score: each hour's event count against the
    mean/std of the previous 24 hours (frame excludes the current row, so
    an anomalous hour can't mask itself). Determinism comes from keeping
    the windowed state in exact integers — SUM(n) and SUM(n*n) over the
    frame are BIGINT — and deriving mean/std with one fixed chain of IEEE
    double ops; SQRT is correctly rounded per IEEE 754 (unlike libm
    log/exp) so it is engine-portable. The single unpartitioned window
    runs over the already-reduced hourly series (8,760 rows/year at any
    SF), not the raw events — the reduction shuffles, the window doesn't
    bottleneck."""
    from pyspark.sql import Window

    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy("hour_start").rowsBetween(-24, -1)
    stats = hourly.select(
        "hour_start",
        "n",
        F.sum("n").over(w).cast("bigint").alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).cast("bigint").alias("s2"),
        F.count("*").over(w).alias("c"),
    )
    s1d = F.col("s1").cast("double")
    mean = s1d / F.col("c")
    var = F.greatest(
        (F.col("s2").cast("double") - s1d * s1d / F.col("c")) / F.col("c"),
        F.lit(0.0),
    )
    std = F.sqrt(var)
    return stats.select(
        "hour_start",
        "n",
        F.when(F.col("c") >= 12, mean).alias("mean_trailing"),
        F.when(F.col("c") >= 12, std).alias("std_trailing"),
        F.when((F.col("c") >= 12) & (std > 0.0), (F.col("n") - mean) / std).alias(
            "zscore"
        ),
    )


@_q(
    "events_user_type_arrays",
    """
    SELECT user_id,
           array_to_string(list_sort(list(event_type)), ',') AS types_sorted,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def events_user_type_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ARRAY_AGG: per-user event-type multiset built as a
    SORTED array — ``collect_list`` order is partition/arrival dependent,
    so ``sort_array`` is what makes an array-valued aggregate
    reproducible (and therefore oracle-gradable) at all; the same rule an
    incremental pipeline needs for stable array-typed outputs. Arrays
    stay JVM-side; the agg is one map-side-combinable shuffle keyed on
    user_id. The graded surface joins the array into one CSV string —
    the harness's pandas canonicalizer cannot sort/hash list cells
    (round-3 lesson), and the joined form pins content AND order just as
    hard."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("event_type")), ","
            ).alias("types_sorted"),
            F.count("*").alias("n_events"),
        )
    )


@_q("events_wau_sketch_rollup")  # datasketches HLL binary — engine-specific,
# rows-only; weekly-estimate-vs-exact error bound pinned in tests
def events_wau_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-sketch rollup — the incremental distinct pattern at
    100 TB: per-day HLL sketches (``hll_sketch_agg``, Apache DataSketches
    binary state) are stored once, then ANY coarser range — here weekly
    active users — is answered by unioning the daily sketches
    (``hll_union_agg``) without re-touching the base events. This is what
    ``approx_count_distinct`` alone cannot do: its estimate is terminal,
    while a persisted sketch column composes (day -> week -> month) and
    merges across incremental loads, exactly like the decimal partials in
    matview_incremental_rollup but for DISTINCT. Output: weekly estimate
    + the number of daily sketches merged."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day_start"))
        .agg(F.hll_sketch_agg("user_id").alias("day_sketch"))
    )
    return (
        daily.groupBy(F.date_trunc("week", F.col("day_start")).alias("week_start"))
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("day_sketch")
            ).alias("wau_estimate"),
            F.count("*").alias("n_days"),
        )
    )


@_q(
    "events_variant_props",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
           CAST(json_valid(props) AS BOOLEAN) AS is_valid_json
    FROM events
    """,
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through the VARIANT type (Spark 4): the JSON
    string is parsed ONCE into a binary variant (``try_parse_json``) and
    fields are extracted with typed ``variant_get`` paths. Against
    ``get_json_object`` (events_json_props) this is the scale path for
    multi-field access: one parse feeds any number of typed extractions,
    and variant's binary encoding pushes through shuffles ~2-5x smaller
    than re-parsed JSON text. ``try_parse_json`` returns NULL on malformed
    input instead of failing the task — the E3 skip-bad-data semantics at
    the field level. The oracle reads the same fields with DuckDB's JSON
    functions; the variant encoding is engine-internal but the extracted
    values are not."""
    df = load_table(spark, sf_dir, "events")
    v = F.try_parse_json(F.col("props"))
    return df.select(
        "event_id",
        F.expr(
            "variant_get(try_parse_json(props), '$.k', 'bigint')"
        ).alias("prop_k"),
        v.isNotNull().alias("is_valid_json"),
    )


@_q(
    "events_type_diversity",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS cnt
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(SUM(cnt) AS BIGINT) AS n_events,
           COUNT(*) AS n_types,
           CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq,
           1 - CAST(SUM(cnt * cnt) AS BIGINT)
                 / (CAST(SUM(cnt) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE))
               AS simpson_diversity
    FROM c GROUP BY user_id
    """,
)
def events_type_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity via the Gini-Simpson index
    (1 - sum(p_i^2)) over event-type frequencies — the log-free diversity
    measure (Shannon entropy needs libm and is order-fragile; Simpson is
    a rational function of exact counts, so the only float ops are one
    multiply and one divide on identical values in both engines). Two
    cascaded hash aggs, both map-side combinable; state per user is five
    numbers. The same statistic over token counts is the
    data-diversity gate in a curation pipeline."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    n_events = F.sum("cnt").cast("bigint")
    sum_sq = F.sum(F.col("cnt") * F.col("cnt")).cast("bigint")
    return c.groupBy("user_id").agg(
        n_events.alias("n_events"),
        F.count("*").alias("n_types"),
        sum_sq.alias("sum_sq"),
        (
            F.lit(1)
            - sum_sq / (n_events.cast("double") * n_events.cast("double"))
        ).alias("simpson_diversity"),
    )


@_q(
    "events_heatmap_hour_dow",
    f"""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT CAST(EXTRACT(dow FROM ts) + 1 AS BIGINT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {sql_dsum('value')} AS total_value
    FROM ev
    GROUP BY 1, 2
    """,
)
def events_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day x day-of-week activity heatmap (load-pattern /
    anomaly-baseline view). Output cardinality is fixed at <= 168 cells
    regardless of input size, so the shuffle after partial aggregation is
    constant — the ideal 100 TB aggregate. Spark's dayofweek() is 1-7
    Sunday-first; DuckDB's dow is 0-6 Sunday-first, reconciled with +1."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.dayofweek("ts").cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hour"),
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        dsum("value").alias("total_value"),
    )


@_q(
    "events_bot_cadence",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    g AS (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           COUNT(gap_us) AS n_gaps,
           CAST(SUM(CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE) / COUNT(gap_us)
             AS mean_gap_us,
           ((CAST(SUM(CAST(gap_us AS DECIMAL(38,0)) * CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE)
              - (CAST(SUM(CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE)
                 * CAST(SUM(CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE)) / COUNT(gap_us))
             / COUNT(gap_us)) AS var_gap
    FROM g
    WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
)
def events_bot_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation detection signal: per-user inter-event gap mean and
    population variance — scripted traffic shows near-zero gap variance
    at any mean, organic traffic doesn't. Gaps are exact integer micros
    (no float timestamps); sums are exact DECIMAL(38,0) (a 30-day gap
    squared is ~7e24 — past BIGINT, fine in decimal), surfaced as DOUBLE
    with the variance closed identically in both engines. One shuffle on
    user_id shared by the lag window and the aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = ev.select(
        "user_id", (ts_us - F.lag(ts_us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    dec = F.col("gap_us").cast("decimal(38,0)")
    sum_d = F.sum(dec).cast("double")
    sumsq_d = F.sum(dec * dec).cast("double")
    n = F.count("gap_us")
    return gaps.groupBy("user_id").agg(
        n.alias("n_gaps"),
        (sum_d / n).alias("mean_gap_us"),
        ((sumsq_d - (sum_d * sum_d) / n) / n).alias("var_gap"),
    )


@_q(
    "events_sequence_trigrams",
    """
    WITH seq AS (
      SELECT user_id, event_type AS t1,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1, t2, t3,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           COUNT(DISTINCT user_id) AS n_users
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY t1, t2, t3
    """,
)
def events_sequence_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining, order 3: counts of consecutive
    event-type trigrams per user stream (the path-analysis building block
    behind funnels and next-action models). Ordering is (ts, event_id) —
    event_id breaks timestamp ties, so the sequence is total and the
    result engine-deterministic; ts is compared, never arithmetic'd, so
    the NTZ fixture needs no epoch handling. One user-partitioned window
    (same shuffle the sessionizer already pays) + one bounded hash agg:
    output cardinality is <= |event_type|^3 regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.filter(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@_q(
    "events_hourly_mad_anomaly",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    hourly AS (
      SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour_start,
             COUNT(*) AS n
      FROM ev GROUP BY 1
    ), med AS (
      SELECT MEDIAN(n) AS med_n FROM hourly
    ), mad AS (
      SELECT m.med_n, MEDIAN(ABS(h.n - m.med_n)) AS mad_n
      FROM hourly h CROSS JOIN med m
      GROUP BY m.med_n
    )
    SELECT h.hour_start, h.n, a.med_n, a.mad_n,
           ABS(h.n - a.med_n) > 3 * a.mad_n AS is_anomaly
    FROM hourly h CROSS JOIN mad a
    """,
)
def events_hourly_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust traffic anomaly screen: hours whose event count sits more
    than 3 MADs from the series median — the outlier-immune twin of
    events_zscore_anomaly (a real traffic spike inflates a mean/std
    baseline and masks itself; the median/MAD baseline doesn't move).
    Two median passes over the already-reduced hourly series (8,760
    rows/year at any SF — reduction shuffles, medians don't bottleneck),
    then a broadcast of the 1-row baseline back onto it. Counts are exact
    integers; both engines interpolate medians identically (the proven
    quantile parity) and the 3-MAD test is one fixed chain of IEEE ops.
    The raw-MAD fence (no 1.4826 normal-consistency factor) is
    intentional: it's a screen, not a sigma estimate."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .agg(F.count("*").alias("n"))
    )
    med = hourly.agg(F.median("n").alias("med_n"))
    mad = (
        hourly.crossJoin(F.broadcast(med))
        .groupBy("med_n")
        .agg(F.median(F.abs(F.col("n") - F.col("med_n"))).alias("mad_n"))
    )
    return hourly.crossJoin(F.broadcast(mad)).select(
        "hour_start",
        "n",
        "med_n",
        "mad_n",
        (F.abs(F.col("n") - F.col("med_n")) > 3 * F.col("mad_n")).alias(
            "is_anomaly"
        ),
    )


@_q(
    "events_conversion_lag",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    s1 AS (
      SELECT user_id, MIN(ts) AS t_signup
      FROM ev WHERE event_type = 'signup' GROUP BY user_id
    ), conv AS (
      SELECT e.user_id,
             epoch_us(MIN(e.ts)) - epoch_us(s1.t_signup) AS lag_us
      FROM ev e JOIN s1 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= s1.t_signup
      GROUP BY e.user_id, s1.t_signup
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n_signup_users,
           COUNT(*) AS n_converted,
           CASE WHEN (SELECT COUNT(*) FROM s1) > 0
                THEN CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM s1)
           END AS conversion_rate,
           MEDIAN(lag_us) AS median_lag_us,
           quantile_cont(lag_us, 0.9) AS p90_lag_us
    FROM conv
    """,
)
def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for users whose first signup is
    followed by a purchase, the signup->first-purchase delay — the
    product-analytics twin of the step-count funnel (how LONG conversion
    takes, not just whether it happens). Delays are exact integer
    microseconds; median/p90 use the proven exact-interpolation quantile
    parity; the conversion rate is one double division of exact counts.
    Both aggregates run over the per-user reduced tables (|users| rows),
    so the only corpus-size shuffle is the event_type-filtered first-ts
    reduction — map-side combinable.

    Report shape is one row ALWAYS: the global aggregate over conv runs
    before the signup-count join, so a no-conversion corpus yields
    (n, 0, 0.0, NULL, NULL) rather than silence, matching the oracle's
    aggregate-over-empty semantics; a no-signup corpus yields a NULL
    rate on both sides instead of a cross-engine 0/0 divergence."""
    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(ts).alias("t_signup"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s1, "user_id")
        .filter(ts >= F.col("t_signup"))
        .groupBy("user_id", "t_signup")
        .agg(
            (
                F.unix_micros(F.min(ts)) - F.unix_micros(F.col("t_signup"))
            ).alias("lag_us")
        )
    )
    n_signup = s1.agg(F.count("*").alias("n_signup_users"))
    # global agg first: always exactly one row, even for an empty conv
    conv_agg = conv.agg(
        F.count("*").alias("n_converted"),
        F.median("lag_us").alias("median_lag_us"),
        F.percentile("lag_us", 0.9).alias("p90_lag_us"),
    )
    return conv_agg.crossJoin(F.broadcast(n_signup)).select(
        "n_signup_users",
        "n_converted",
        F.when(
            F.col("n_signup_users") > 0,
            F.col("n_converted").cast("double")
            / F.col("n_signup_users").cast("double"),
        ).alias("conversion_rate"),
        "median_lag_us",
        "p90_lag_us",
    )


@_q(
    "events_type_drift_daily",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    dt AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day_start,
             event_type, COUNT(*) AS c_dt
      FROM ev GROUP BY 1, 2
    ), d AS (
      SELECT day_start, CAST(SUM(c_dt) AS BIGINT) AS n_day
      FROM dt GROUP BY day_start
    ), t AS (
      SELECT event_type, CAST(SUM(c_dt) AS BIGINT) AS c_t FROM dt GROUP BY event_type
    ), tot AS (
      SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM t
    )
    SELECT dt.day_start, d.n_day,
           {tvd} AS tvd_vs_mix
    FROM dt
    JOIN d USING (day_start)
    JOIN t USING (event_type)
    CROSS JOIN tot
    GROUP BY dt.day_start, d.n_day
    """.format(
        tvd=sql_tvd_expr(
            "CAST(dt.c_dt AS DOUBLE) / d.n_day",
            "CAST(t.c_t AS DOUBLE) / tot.n",
        )
    ),
)
def events_type_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day event-type mix drift: total-variation distance between each
    day's event_type distribution and the whole stream's mix — the
    monitoring twin of text_source_token_drift for event pipelines (a
    collector outage or a bot burst shows up as a TVD spike days before
    per-type z-scores condemn it). Same decomposition (only types present
    that day join; absent-type mass folds into 1 - sum p_mix) and the
    same 1e-12 fixed-point round()-then-BIGINT-sum determinism contract.
    Everything after the (day, type) count is |days| x |types| rows."""
    dt = (
        load_table(spark, sf_dir, "events")
        # Explicit cast to match the oracle's CAST(ts AS TIMESTAMP): a
        # malformed ts then fails the same way in both engines instead of
        # silently yielding a NULL day_start on the Spark side only.
        .groupBy(
            F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day_start"),
            "event_type",
        )
        .agg(F.count("*").alias("c_dt"))
    )
    from .helpers import materialize_reduced

    dt = materialize_reduced(dt)  # feeds day totals, type totals, final join
    d = dt.groupBy("day_start").agg(F.sum("c_dt").alias("n_day"))
    t = dt.groupBy("event_type").agg(F.sum("c_dt").alias("c_t"))
    tot = t.agg(F.sum("c_t").alias("n"))
    p_d = F.col("c_dt").cast("double") / F.col("n_day")
    p_m = F.col("c_t").cast("double") / F.col("n")
    return (
        dt.join(F.broadcast(d), "day_start")
        .join(F.broadcast(t), "event_type")
        .crossJoin(F.broadcast(tot))
        .groupBy("day_start", "n_day")
        .agg(*tvd_fixed_point_aggs(p_d, p_m))
        .select(
            "day_start",
            "n_day",
            tvd_from_fixed_point().alias("tvd_vs_mix"),
        )
    )


@_q(
    "events_concurrency_profile",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) <= 1800000000
                  THEN 0 ELSE 1 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, session_id,
             MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
      )
      GROUP BY user_id, session_id
    ), pts AS (
      SELECT CAST(DATE_TRUNC('day', session_start) AS TIMESTAMP) AS day_start,
             session_start AS t,
             COUNT(*) AS n_starts, 0 AS n_ends
      FROM sess GROUP BY 1, 2
      UNION ALL
      SELECT CAST(DATE_TRUNC('day', session_start) AS TIMESTAMP) AS day_start,
             session_end AS t,
             0 AS n_starts, COUNT(*) AS n_ends
      FROM sess GROUP BY 1, 2
    ), merged AS (
      SELECT day_start, t,
             CAST(SUM(n_starts) AS BIGINT) AS starts_t,
             CAST(SUM(n_ends) AS BIGINT) AS ends_t
      FROM pts GROUP BY day_start, t
    ), run AS (
      SELECT day_start, t, starts_t, ends_t,
             SUM(starts_t) OVER w - SUM(ends_t) OVER w + ends_t AS conc_at_t
      FROM merged
      WINDOW w AS (PARTITION BY day_start ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT day_start,
           CAST(SUM(starts_t) AS BIGINT) AS n_sessions,
           CAST(MAX(conc_at_t) AS BIGINT) AS peak_concurrent
    FROM run
    GROUP BY day_start
    """,
)
def events_concurrency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning twin of
    DAU: how many gap-based sessions (the events_sessionization 30-min
    contract) were simultaneously open at the worst instant of each day.
    Sweep-line, no self-join: sessions reduce to per-instant start/end
    counts, one ordered window per day computes the running balance, and
    concurrency AT an instant counts closed-interval overlap
    (cum_starts(<=t) - cum_ends(<t), i.e. a session ending exactly at t
    still overlaps one starting at t). Sessions attribute to their START
    day; the handful straddling midnight carry their mass there (at 100 TB
    the day partition bounds every window — no global ordering anywhere;
    the interval self-join alternative is quadratic on hot days).
    Duplicate instants collapse by aggregation BEFORE the window, so the
    running sum never depends on tie order."""
    df = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_ok = ts_us - F.lag(ts_us).over(w) <= 1800 * 1_000_000
    sess = (
        df.select(
            "user_id",
            "ts",
            "event_id",
            F.when(gap_ok, 0).otherwise(1).alias("new_session"),
        )
        .withColumn("session_id", F.sum("new_session").over(cum))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .withColumn(
            "day_start",
            F.date_trunc("day", F.col("session_start").cast("timestamp")),
        )
    )
    from .helpers import materialize_reduced

    # the union below references sess twice (starts + ends branch);
    # without this the whole sessionization subtree executes once per
    # branch (no CSE across union arms)
    sess = materialize_reduced(sess)
    starts = sess.groupBy(
        "day_start", F.col("session_start").alias("t")
    ).agg(F.count("*").alias("n_starts"), F.lit(0).cast("bigint").alias("n_ends"))
    ends = sess.groupBy("day_start", F.col("session_end").alias("t")).agg(
        F.lit(0).cast("bigint").alias("n_starts"), F.count("*").alias("n_ends")
    )
    merged = (
        starts.unionByName(ends)
        .groupBy("day_start", "t")
        .agg(
            F.sum("n_starts").alias("starts_t"),
            F.sum("n_ends").alias("ends_t"),
        )
    )
    dw = (
        Window.partitionBy("day_start")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    conc = (
        F.sum("starts_t").over(dw) - F.sum("ends_t").over(dw) + F.col("ends_t")
    )
    return (
        merged.withColumn("conc_at_t", conc)
        .groupBy("day_start")
        .agg(
            F.sum("starts_t").alias("n_sessions"),
            F.max("conc_at_t").alias("peak_concurrent"),
        )
    )


LATE_AUDIT_BATCH = 1000  # arrival micro-batch width (event_id units)


@_q(
    "events_watermark_late_audit",
    f"""
    WITH ev AS (
      SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             event_id // {LATE_AUDIT_BATCH} AS arrival_batch
      FROM events
    ), per_batch AS (
      SELECT arrival_batch, CAST(MAX(ts_us) AS BIGINT) AS batch_max
      FROM ev GROUP BY arrival_batch
    ), wm AS (
      SELECT arrival_batch,
             MAX(batch_max) OVER (ORDER BY arrival_batch
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_prev
      FROM per_batch
    ), lat AS (
      SELECT GREATEST(CAST(0 AS BIGINT),
                      COALESCE(w.wm_prev, CAST(0 AS BIGINT)) - e.ts_us)
               AS late_us
      FROM ev e JOIN wm w USING (arrival_batch)
    ), bucketed AS (
      SELECT CASE WHEN late_us = 0 THEN 'a_on_time'
                  WHEN late_us <= 60000000 THEN 'b_within_1m'
                  WHEN late_us <= 600000000 THEN 'c_within_10m'
                  WHEN late_us <= 3600000000 THEN 'd_within_1h'
                  ELSE 'e_beyond_1h' END AS lateness_bucket,
             late_us
      FROM lat
    )
    SELECT lateness_bucket,
           COUNT(*) AS n_events,
           CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM bucketed) AS share,
           CAST(MAX(late_us) AS BIGINT) AS max_late_us
    FROM bucketed
    GROUP BY lateness_bucket
    """,
)
def events_watermark_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing audit: how late do events actually arrive? Using
    event_id as the arrival order (the ingest sequence), events are cut
    into arrival micro-batches; an event is late by how far it trails
    the maximum event time of all PRIOR batches — exactly the quantity a
    Structured Streaming watermark trades off against state size, so the
    bucket shares read directly as 'withWatermark(X) would drop this
    fraction'. Two-level design keeps it scale-safe: the only ordered
    window runs over the REDUCED per-batch table (|events|/batch rows,
    the cumulative-daily-series class), per-event lateness is then a
    co-partitioned join on the batch id, and the report is a bounded
    5-bucket aggregate. First-batch events have no prior watermark ->
    on-time by definition."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.expr(f"event_id DIV {LATE_AUDIT_BATCH}").alias("arrival_batch"),
    )
    per_batch = ev.groupBy("arrival_batch").agg(
        F.max("ts_us").alias("batch_max")
    )
    wprev = (
        Window.orderBy("arrival_batch")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wm = per_batch.select(
        "arrival_batch", F.max("batch_max").over(wprev).alias("wm_prev")
    )
    late = ev.join(wm, "arrival_batch").select(
        F.greatest(
            F.lit(0).cast("bigint"),
            F.coalesce(F.col("wm_prev"), F.lit(0).cast("bigint"))
            - F.col("ts_us"),
        ).alias("late_us")
    )
    bucket = (
        F.when(F.col("late_us") == 0, "a_on_time")
        .when(F.col("late_us") <= 60_000_000, "b_within_1m")
        .when(F.col("late_us") <= 600_000_000, "c_within_10m")
        .when(F.col("late_us") <= 3_600_000_000, "d_within_1h")
        .otherwise("e_beyond_1h")
    )
    from .helpers import materialize_reduced

    bucketed = materialize_reduced(
        late.groupBy(bucket.alias("lateness_bucket")).agg(
            F.count("*").alias("n_events"),
            F.max("late_us").alias("max_late_us"),
        )
    )
    tot = bucketed.agg(F.sum("n_events").alias("n_total"))
    return bucketed.crossJoin(F.broadcast(tot)).select(
        "lateness_bucket",
        "n_events",
        (F.col("n_events").cast("double") / F.col("n_total").cast("double")).alias(
            "share"
        ),
        "max_late_us",
    )


@_q(
    "events_ab_experiment_analysis",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    arms AS (
      SELECT user_id,
             CASE WHEN SUBSTR(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) >= 15
                       THEN 1 ELSE 0 END AS BIGINT) AS converted
      FROM ev GROUP BY user_id
    ), per_arm AS (
      SELECT arm, COUNT(*) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted
      FROM arms GROUP BY arm
    ), wide AS (
      SELECT MAX(CASE WHEN arm = 'A' THEN n_users END) AS n_a,
             MAX(CASE WHEN arm = 'A' THEN n_converted END) AS c_a,
             MAX(CASE WHEN arm = 'B' THEN n_users END) AS n_b,
             MAX(CASE WHEN arm = 'B' THEN n_converted END) AS c_b
      FROM per_arm
    )
    SELECT n_a, c_a, n_b, c_b,
           CAST(c_a AS DOUBLE) / n_a AS rate_a,
           CAST(c_b AS DOUBLE) / n_b AS rate_b,
           CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
             (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
             / SQRT((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)) END AS z_stat
    FROM wide
    """,
)
def events_ab_experiment_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion experiment readout: users hash-split 50/50 into
    arms (the same md5 membership contract as splits/samples — assignment
    is reproducible and joins with any other table), per-arm success =
    heavy purchaser (>= 15 purchase events — nearly every fixture user
    purchases at least once, so has-any-purchase is degenerate), and the
    pooled two-proportion z statistic — the analysis
    every growth team runs, expressed so the whole thing is
    oracle-gradable: counts are exact BIGINTs, and the z formula is one
    token-identical double expression whose only non-arithmetic op is
    SQRT (IEEE-correctly-rounded in both engines — the same rule the
    z-score and MAD screens rely on; no libm-dependent pow/log
    anywhere). Two cascaded hash aggregates (user reduce, then arm
    reduce); the readout is one row."""
    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8", "A"
    ).otherwise("B")
    arms = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 15,
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("converted")
    ).select(arm.alias("arm"), "converted")
    per_arm = arms.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))
    wide = per_arm.agg(
        pick("A", "n_users").alias("n_a"),
        pick("A", "n_converted").alias("c_a"),
        pick("B", "n_users").alias("n_b"),
        pick("B", "n_converted").alias("c_b"),
    )
    n_a, c_a = F.col("n_a"), F.col("c_a")
    n_b, c_b = F.col("n_b"), F.col("c_b")
    rate_a = c_a.cast("double") / n_a
    rate_b = c_b.cast("double") / n_b
    pooled = (c_a + c_b).cast("double") / (n_a + n_b)
    # degenerate experiments (0% or 100% pooled success) have no defined
    # z; guard identically in both engines instead of dividing by zero
    z = F.when(
        ((c_a + c_b) > 0) & ((c_a + c_b) < (n_a + n_b)),
        (rate_a - rate_b)
        / F.sqrt(
            pooled
            * (F.lit(1.0) - pooled)
            * (F.lit(1.0) / n_a + F.lit(1.0) / n_b)
        ),
    )
    return wide.select(
        "n_a", "c_a", "n_b", "c_b",
        rate_a.alias("rate_a"),
        rate_b.alias("rate_b"),
        z.alias("z_stat"),
    )


@_q(
    "events_debounce_bursts",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    g AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS gap_us
      FROM ev
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 300000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN gap_us IS NOT NULL AND gap_us <= 300000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN gap_us IS NOT NULL AND gap_us <= 300000000
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS drop_ratio
    FROM g
    GROUP BY event_type
    """,
)
def events_debounce_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce audit: within each (user, event_type) stream an
    event arriving <= 5 minutes after its predecessor is a repeat firing
    of the same user action (double-clicks, retry storms, jittery
    sensors) and would be suppressed by a debounce stage; the report
    counts kept burst-leaders vs dropped repeats per event type — the
    sizing evidence you collect BEFORE turning debouncing on. The gap
    test uses the predecessor event (chained, not burst-leader-anchored)
    so it is a pure lag window: exact integer micros, one shuffle on
    (user_id, event_type) shared by the window and nothing else — the
    per-type aggregate is a bounded-key (|event types|) second pass.
    Deterministic tie-break (ts, event_id) as everywhere else."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    g = ev.select(
        "event_type", (ts_us - F.lag(ts_us).over(w)).alias("gap_us")
    )
    dropped = F.col("gap_us").isNotNull() & (
        F.col("gap_us") <= 300_000_000
    )
    n_drop = F.sum(F.when(dropped, 1).otherwise(0)).cast("bigint")
    return g.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(dropped, 0).otherwise(1)).cast("bigint").alias("n_kept"),
        n_drop.alias("n_dropped"),
        (n_drop.cast("double") / F.count("*")).alias("drop_ratio"),
    )


@_q(
    "events_interarrival_histogram",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    g AS (
      SELECT epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM ev
    ), b AS (
      SELECT CASE WHEN gap_s <= 1 THEN CAST(1 AS BIGINT)
                  ELSE (CAST(1 AS BIGINT)
                        << LENGTH(bin(CAST(gap_s - 1 AS BIGINT)))) END
               AS bucket_s
      FROM (SELECT gap_us // 1000000 AS gap_s FROM g WHERE gap_us IS NOT NULL)
    )
    SELECT bucket_s, CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM b) AS share
    FROM b GROUP BY bucket_s
    """,
)
def events_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time histogram over per-user event streams, in
    power-of-2 second buckets — the distribution you size session
    timeouts, watermarks, and debounce thresholds FROM (the complements:
    events_bot_cadence flags per-user cadence anomalies,
    events_sessionization consumes the chosen timeout). Gaps are exact
    integer micros floored to seconds; buckets use the same pure-integer
    1 << bit_length(n-1) form as sample_length_bucket_waste (no float
    log2). One shuffle on user_id for the lag window; the histogram is
    a bounded-key aggregate (<= bit_length(30 days) ~ 22 buckets)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = (
        ev.select((ts_us - F.lag(ts_us).over(w)).alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
        .select((F.col("gap_us") / F.lit(1_000_000)).cast("bigint").alias("gap_s"))
    )
    # floor division: gap_us is non-negative so cast-after-divide floors
    # identically to DuckDB's // (both truncate toward zero here)
    bucket = F.when(F.col("gap_s") <= 1, F.lit(1).cast("bigint")).otherwise(
        F.expr(
            "shiftleft(CAST(1 AS BIGINT),"
            " length(bin(CAST(gap_s - 1 AS BIGINT))))"
        )
    )
    b = gaps.select(bucket.alias("bucket_s"))
    total = b.count()
    return b.groupBy("bucket_s").agg(
        F.count("*").alias("n_gaps"),
        (F.count("*").cast("double") / F.lit(total)).alias("share"),
    )


@_q(
    "events_seasonal_naive_error",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ev GROUP BY 1
    ), j AS (
      SELECT a.day_start, a.n AS actual, f.n AS forecast
      FROM daily a
      JOIN daily f ON f.day_start = a.day_start - INTERVAL 7 DAY
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_days,
           CAST(SUM(ABS(actual - forecast)) AS DOUBLE) / COUNT(*) AS mae,
           CAST(SUM(actual - forecast) AS DOUBLE) / COUNT(*) AS mean_bias,
           CAST(SUM(CAST(round(CAST(ABS(actual - forecast) AS DOUBLE)
                               / actual * 1000000000) AS BIGINT))
                AS DOUBLE) / COUNT(*) / 1000000000 AS mape
    FROM j
    """,
)
def events_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast baseline audit: predict each day's event
    volume with the count from 7 calendar days earlier and report
    MAE / bias / MAPE over the evaluable days — the sanity floor every
    real traffic-forecasting model must beat, and the drift alarm when
    weekly seasonality itself shifts. The lag is a calendar self-join on
    day-7 (never a row-offset lag, which silently misaligns across
    missing days); daily counts are exact BIGINT, the error aggregates
    close in double with token-identical expressions in both engines
    (actual > 0 always — a day with zero events has no row and is simply
    not evaluable). Scale shape: one shuffle to the bounded daily table
    (|days| keys), then a self-join of that tiny table — the corpus is
    scanned once."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day_start")
    ).agg(F.count("*").alias("n"))
    a, f = daily.alias("a"), daily.alias("f")
    j = a.join(
        f,
        F.col("f.day_start")
        == F.col("a.day_start") - F.expr("INTERVAL 7 DAY"),
    ).select(F.col("a.n").alias("actual"), F.col("f.n").alias("forecast"))
    err = F.col("actual") - F.col("forecast")
    # the per-day ratio sum is order-sensitive in double; fix the sum as
    # 1e-9-scaled exact BIGINTs (round() is half-away in both engines)
    # so partial-aggregation order can't move the last ulp
    mape_fp = F.round(
        F.abs(err).cast("double") / F.col("actual") * 1_000_000_000
    ).cast("bigint")
    return j.agg(
        F.count("*").alias("n_eval_days"),
        (F.sum(F.abs(err)).cast("double") / F.count("*")).alias("mae"),
        (F.sum(err).cast("double") / F.count("*")).alias("mean_bias"),
        (
            F.sum(mape_fp).cast("double") / F.count("*") / F.lit(1_000_000_000)
        ).alias("mape"),
    )


MARKOV_ROUNDS = 12
MARKOV_SCALE = 1_000_000_000_000
# events_markov_stationary collect()s the transition matrix and iterates
# in Python; its rows are bounded by |event-type vocabulary|^2, enforced
# at this vocabulary size (65,536 rows, 12 rounds of integer arithmetic).
MARKOV_MAX_TYPES = 256


def _markov_oracle() -> str:
    # unrolled integer power iteration, MATERIALIZED per the
    # docs/ITERATIVE_PARITY.md contract (DuckDB would otherwise
    # re-expand the round-k CTE exponentially)
    rounds = []
    prev = "r0"
    for k in range(1, MARKOV_ROUNDS + 1):
        rounds.append(f"""
    r{k} AS MATERIALIZED (
      SELECT s.t, COALESCE(m.in_mass, 0) + d.dm // c.n AS rank
      FROM states s
      CROSS JOIN consts c
      LEFT JOIN (
        SELECT tr.t2 AS t, SUM((r.rank * tr.c) // tr.outdeg) AS in_mass
        FROM {prev} r JOIN trans tr ON tr.t1 = r.t
        GROUP BY tr.t2
      ) m ON m.t = s.t
      CROSS JOIN (
        SELECT COALESCE(SUM(r.rank), 0) AS dm
        FROM {prev} r LEFT JOIN outs o ON o.t1 = r.t
        WHERE o.t1 IS NULL
      ) d
    )""")
        prev = f"r{k}"
    return f"""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    pairs AS MATERIALIZED (
      SELECT event_type AS t1,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS t2
      FROM ev
    ),
    trans AS MATERIALIZED (
      SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(COUNT(*)) OVER (PARTITION BY t1) AS BIGINT) AS outdeg
      FROM pairs WHERE t2 IS NOT NULL GROUP BY t1, t2
    ),
    outs AS (SELECT DISTINCT t1 FROM trans),
    states AS MATERIALIZED (
      SELECT t1 AS t FROM trans UNION SELECT t2 FROM trans
    ),
    consts AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             {MARKOV_SCALE} // COUNT(*) AS init
      FROM states
    ),
    r0 AS MATERIALIZED (
      SELECT s.t, c.init AS rank FROM states s CROSS JOIN consts c
    ),{",".join(rounds)}
    SELECT t AS event_type, CAST(rank AS BIGINT) AS stationary_fp,
           CAST(CAST(rank AS BIGINT) AS DOUBLE) / {MARKOV_SCALE}.0
             AS stationary_prob
    FROM {prev}
    """


@_q("events_markov_stationary", _markov_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — where
    user behavior settles if the observed transition dynamics keep
    running, the steady-state complement to events_type_transitions'
    one-step matrix (used to rank 'attractor' states and to seed
    simulation/session-generation models). Fifth operator under the
    iterative-parity contract (docs/ITERATIVE_PARITY.md): 12 unrolled
    power-iteration rounds in pure integer fixed point (1e-12 units,
    multiply-before-floor-divide mass propagation, dangling states
    redistributed uniformly like PageRank's dangling mass), so both
    engines produce bit-identical state — parity never depends on
    float convergence luck. The chain state is |event types| rows; the
    corpus is touched ONCE to count transitions (one user-keyed window
    + one bounded-key agg), so iteration cost is independent of data
    size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type").over(w).alias("t2"),
    ).filter(F.col("t2").isNotNull())
    wt1 = Window.partitionBy("t1")
    trans = (
        pairs.groupBy("t1", "t2")
        .agg(F.count("*").cast("bigint").alias("c"))
        .withColumn("outdeg", F.sum("c").over(wt1).cast("bigint"))
    )
    # Iterate on the DRIVER (optimization guide §8 "decide with small
    # rows", VERDICT r15 ask #8): the transition matrix is bounded by
    # |event-type vocabulary|^2 — metadata, not data rows — so the corpus
    # is touched exactly once (the window + agg above) and the 12 rounds
    # are pure Python integer arithmetic instead of 12 join/agg/checkpoint
    # job waves. The arithmetic replicates the distributed form exactly:
    # every quantity is a non-negative int, Spark's `div` and Python's
    # `//` agree on non-negative operands, and integer sums are
    # order-independent — so the result is bit-identical to the previous
    # distributed loop and to the oracle's unrolled integer CTEs. The
    # vocabulary bound is enforced, not assumed: one row past it is
    # collected at most, and its presence aborts the query.
    bound = MARKOV_MAX_TYPES**2
    trows = trans.limit(bound + 1).collect()
    if len(trows) > bound:
        raise ValueError(
            f"events_markov_stationary: more than {bound} event-type "
            f"transitions; the in-Python iteration requires the matrix "
            f"(|event-type vocabulary|^2 rows) to fit "
            f"MARKOV_MAX_TYPES^2 = {MARKOV_MAX_TYPES}^2"
        )
    if not trows:
        # empty input: no states, no distribution
        return spark.createDataFrame(
            [],
            "event_type string, stationary_fp bigint, stationary_prob double",
        )
    state_list = sorted({r["t1"] for r in trows} | {r["t2"] for r in trows})
    n = len(state_list)
    init = MARKOV_SCALE // n
    outs_set = {r["t1"] for r in trows}
    rank = {t: init for t in state_list}
    for _ in range(MARKOV_ROUNDS):
        in_mass: dict[str, int] = {}
        for r in trows:
            m = (rank[r["t1"]] * r["c"]) // r["outdeg"]
            in_mass[r["t2"]] = in_mass.get(r["t2"], 0) + m
        dm = sum(rank[t] for t in state_list if t not in outs_set)
        share = dm // n
        rank = {t: in_mass.get(t, 0) + share for t in state_list}
    out = spark.createDataFrame(
        [(t, rank[t]) for t in state_list], "t string, rank bigint"
    )
    return out.select(
        F.col("t").alias("event_type"),
        F.col("rank").alias("stationary_fp"),
        (F.col("rank").cast("double") / F.lit(float(MARKOV_SCALE))).alias(
            "stationary_prob"
        ),
    )


@_q(
    "events_user_feature_export",
    f"""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    per_type AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM ev GROUP BY user_id, event_type
    ), div AS (
      SELECT user_id,
             CAST(SUM(c) AS BIGINT) AS n_events,
             1.0 - CAST(SUM(c * c) AS DOUBLE)
                   / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE))
               AS simpson_diversity
      FROM per_type GROUP BY user_id
    ), base AS (
      SELECT user_id,
             COUNT(DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP))
               AS n_active_days,
             epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us,
             {sql_dsum('value')} AS total_value,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases
      FROM ev GROUP BY user_id
    )
    SELECT b.user_id, d.n_events, b.n_active_days, b.span_us,
           CASE WHEN d.n_events > 1
                THEN CAST(b.span_us AS DOUBLE) / (d.n_events - 1) END
             AS mean_gap_us,
           d.simpson_diversity, b.total_value,
           CAST(b.n_purchases AS DOUBLE) / d.n_events AS purchase_share
    FROM base b JOIN div d ON d.user_id = b.user_id
    """,
)
def events_user_feature_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral feature export — the feature-store table a
    churn/propensity model trains on, assembled in one pass over the
    event log: activity volume and span, active-day count, mean
    inter-arrival time, Simpson type-diversity, monetary total, and
    purchase share. Every feature closes from exact integers (micros
    spans, BIGINT counts, decimal value sums) with single double
    divisions, so the export is bit-reproducible — which matters
    because training-serving skew from a drifting feature pipeline is
    a real incident class. Two user-keyed shuffles (per-type counts,
    per-user rollup) that AQE coalesces; no row explosion."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    c = F.col("c")
    div = per_type.groupBy("user_id").agg(
        F.sum(c).cast("bigint").alias("n_events"),
        (
            F.lit(1.0)
            - F.sum(c * c).cast("double")
            / (F.sum(c).cast("double") * F.sum(c).cast("double"))
        ).alias("simpson_diversity"),
    )
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = ev.groupBy("user_id").agg(
        F.countDistinct(
            F.date_trunc("day", F.col("ts").cast("timestamp"))
        ).alias("n_active_days"),
        (F.max(ts_us) - F.min(ts_us)).alias("span_us"),
        dsum("value").alias("total_value"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchases"),
    )
    j = base.join(div, "user_id")
    return j.select(
        "user_id",
        "n_events",
        "n_active_days",
        "span_us",
        F.when(
            F.col("n_events") > 1,
            F.col("span_us").cast("double") / (F.col("n_events") - 1),
        ).alias("mean_gap_us"),
        "simpson_diversity",
        "total_value",
        (F.col("n_purchases").cast("double") / F.col("n_events")).alias(
            "purchase_share"
        ),
    )


@_q(
    "events_rolling_wau",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             user_id
      FROM ev
    ), spine AS (SELECT DISTINCT day FROM du)
    SELECT s.day AS day_start,
           CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS wau
    FROM spine s
    JOIN du d ON d.day BETWEEN s.day - INTERVAL 6 DAY AND s.day
    GROUP BY s.day
    """,
)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day active users per day — the rolling-retention
    curve dashboards actually plot, and the one distinct-count shape
    neither a window frame (no COUNT(DISTINCT) over frames) nor the
    first-seen trick (users RE-ENTER trailing windows, cumulative logic
    can't subtract them) can express. The exact rewrite: dedup to
    (day, user) pairs once, then a bounded range join of the |days|
    spine onto the pairs (each pair lands in <= 7 windows) and a
    distinct count per day. At 100 TB the pair table is
    sum-of-daily-actives rows — the thing you already store as a daily
    activity table — and the 7x fanout is the window width, never the
    corpus; the sketch twin (events_wau_sketch_rollup) answers the same
    question mergeably when exactness isn't contractual."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
        "user_id",
    ).distinct()
    spine = du.select("day").distinct()
    s, d = spine.alias("s"), du.alias("d")
    j = s.join(
        d,
        (F.col("d.day") >= F.col("s.day") - F.expr("INTERVAL 6 DAY"))
        & (F.col("d.day") <= F.col("s.day")),
    )
    return j.groupBy(F.col("s.day").alias("day_start")).agg(
        F.countDistinct("d.user_id").cast("bigint").alias("wau")
    )


@_q(
    "events_hysteresis_alerts",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ev GROUP BY 1
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(n) AS BIGINT) AS s1,
             CAST(SUM(n * n) AS BIGINT) AS s2
      FROM daily
    ), thr AS (
      SELECT CAST(s1 AS DOUBLE) / nd
               + 0.5 * SQRT((CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / nd)
                            / nd) AS hi,
             CAST(s1 AS DOUBLE) / nd
               - 0.5 * SQRT((CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / nd)
                            / nd) AS lo
      FROM stats
    ), crossed AS (
      SELECT day, n,
             CASE WHEN n > t.hi THEN 1 WHEN n < t.lo THEN 0 END AS crossing
      FROM daily, thr t
    ), st AS (
      SELECT day, n,
             COALESCE(LAST_VALUE(crossing IGNORE NULLS) OVER (
               ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
               AS alarm
      FROM crossed
    ), edges AS (
      SELECT day, n, alarm,
             CASE WHEN alarm = 1
                   AND COALESCE(LAG(alarm) OVER (ORDER BY day), 0) <> 1
                  THEN 1 ELSE 0 END AS edge
      FROM st
    ), runs AS (
      SELECT day, n, alarm,
             CAST(SUM(edge) OVER (
               ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS episode
      FROM edges
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM runs) AS n_days,
           (SELECT CAST(SUM(alarm) AS BIGINT) FROM runs) AS n_alarm_days,
           (SELECT CAST(MAX(episode) AS BIGINT) FROM runs) AS n_episodes,
           CAST(COALESCE((
             SELECT MAX(ep_len) FROM (
               SELECT CAST(COUNT(*) AS BIGINT) AS ep_len
               FROM runs WHERE alarm = 1 GROUP BY episode)
           ), 0) AS BIGINT) AS longest_episode_days
    """,
)
def events_hysteresis_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-threshold (hysteresis) alarming over the daily event-volume
    series: the alarm LATCHES on crossing mean + 0.5 sigma and releases
    only below mean - 0.5 sigma — the standard monitoring pattern that
    kills the flapping a single-threshold alert produces on a noisy
    series (the pointwise complement events_zscore_anomaly flags single
    days; this tracks sustained EPISODES). The latch is the classic
    SQL rewrite of one-bit state: crossings map to 1/0/NULL and
    LAST_VALUE ... IGNORE NULLS carries the most recent decision
    forward; episodes are run-length grouped off the latch edges. All
    on the bounded |days| series after one count shuffle; threshold
    moments are exact BIGINT sums (daily counts are small enough that
    the raw power sum stays inside exact-double range)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    stats = daily.agg(
        F.count("*").cast("bigint").alias("nd"),
        F.sum("n").cast("bigint").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("s2"),
    )
    s1d, s2d, nd = (
        F.col("s1").cast("double"),
        F.col("s2").cast("double"),
        F.col("nd"),
    )
    sd = F.sqrt((s2d - s1d * s1d / nd) / nd)
    thr = stats.select(
        (s1d / nd + F.lit(0.5) * sd).alias("hi"),
        (s1d / nd - F.lit(0.5) * sd).alias("lo"),
    )
    crossed = daily.crossJoin(F.broadcast(thr)).select(
        "day",
        "n",
        F.when(F.col("n") > F.col("hi"), 1)
        .when(F.col("n") < F.col("lo"), 0)
        .alias("crossing"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    st = crossed.select(
        "day",
        "n",
        F.coalesce(
            F.last("crossing", ignorenulls=True).over(w), F.lit(0)
        ).alias("alarm"),
    )
    lagw = Window.orderBy("day")
    runs = st.select(
        "day",
        "n",
        "alarm",
        F.sum(
            F.when(
                (F.col("alarm") == 1)
                & (
                    F.coalesce(F.lag("alarm").over(lagw), F.lit(0)) != 1
                ),
                1,
            ).otherwise(0)
        )
        .over(w)
        .cast("bigint")
        .alias("episode"),
    )
    ep_len = (
        runs.filter(F.col("alarm") == 1)
        .groupBy("episode")
        .agg(F.count("*").cast("bigint").alias("ep_len"))
        .agg(F.max("ep_len").alias("max_ep_len"))
    )
    return (
        runs.agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum("alarm").cast("bigint").alias("n_alarm_days"),
            F.max("episode").cast("bigint").alias("n_episodes"),
        )
        .crossJoin(F.broadcast(ep_len))
        .select(
            "n_days",
            "n_alarm_days",
            "n_episodes",
            F.coalesce(F.col("max_ep_len"), F.lit(0))
            .cast("bigint")
            .alias("longest_episode_days"),
        )
    )


@_q(
    "events_trending_decay",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    mx AS (SELECT MAX(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS m FROM ev),
    scored AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT)
               >> CAST(LEAST(date_diff('day',
                               CAST(date_trunc('day', ts) AS TIMESTAMP),
                               mx.m) // 7, 62) AS BIGINT) AS decayed_cents
      FROM ev, mx
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(decayed_cents) AS BIGINT) AS trend_score_cents
    FROM scored GROUP BY event_type
    """,
)
def events_trending_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed trending score per event type: each event's value
    contributes halved once per week of age (weight 2^-weeks), so last
    week's activity dominates and stale volume fades — the ranking
    behind every 'trending now' surface. The decay is week-STEPPED on
    purpose: a fractional half-life (0.5^(age/7)) needs libm pow,
    which diverges between engines by design rule, while an integer
    right-shift of exact cents is bit-identical everywhere and the
    ranking it induces is the same. Age anchors to the corpus max day
    (broadcast 1-row scalar); one scan, |event types| keys; the shift
    caps at 62 so a years-old corpus can't underflow the BIGINT."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(
        F.max(F.date_trunc("day", F.col("ts").cast("timestamp"))).alias("m")
    )
    weeks = F.least(
        F.expr(
            "datediff(m, date_trunc('day', CAST(ts AS TIMESTAMP))) div 7"
        ),
        F.lit(62),
    ).cast("int")
    scored = ev.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.expr(
            "shiftright(CAST(round(value * 100) AS BIGINT),"
            " CAST(LEAST(datediff(m, date_trunc('day',"
            " CAST(ts AS TIMESTAMP))) div 7, 62) AS INT))"
        ).alias("decayed_cents"),
    )
    return scored.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("decayed_cents").cast("bigint").alias("trend_score_cents"),
    )


@_q(
    "events_user_behavior_divergence",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    pairs AS (
      SELECT user_id, event_type AS t1,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS t2
      FROM ev
    ), tr AS (SELECT user_id, t1, t2 FROM pairs WHERE t2 IS NOT NULL),
    g AS (
      SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS c_g FROM tr GROUP BY t1, t2
    ), gn AS (SELECT CAST(SUM(c_g) AS BIGINT) AS n_g FROM g),
    u AS (
      SELECT user_id, t1, t2, CAST(COUNT(*) AS BIGINT) AS c_u
      FROM tr GROUP BY user_id, t1, t2
    ), un AS (
      SELECT user_id, CAST(SUM(c_u) AS BIGINT) AS n_u FROM u GROUP BY user_id
    ), cells AS (
      SELECT un.user_id, un.n_u, g.t1, g.t2, g.c_g, COALESCE(uc.c_u, 0) AS c_u
      FROM un CROSS JOIN g
      LEFT JOIN u uc ON uc.user_id = un.user_id
                    AND uc.t1 = g.t1 AND uc.t2 = g.t2
    )
    SELECT user_id, n_u AS n_transitions,
           CAST(SUM(CAST(round(1000000000.0 * ABS(
                  CAST(c_u AS DOUBLE) / n_u
                  - CAST(c_g AS DOUBLE) / (SELECT n_g FROM gn)))
                AS BIGINT)) AS DOUBLE) / 2000000000.0 AS tv_distance
    FROM cells
    GROUP BY user_id, n_u
    """,
)
def events_user_behavior_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral divergence: total-variation distance between
    each user's event-type transition distribution and the corpus-wide
    one — scripted accounts and hijacked sessions read as outliers
    here even when their cadence (events_bot_cadence) looks organic,
    because TV compares WHAT the user does, not how fast. Every user
    is scored against the full |event types|^2 global cell set (left
    join fills unvisited cells with zero, which contribute the global
    mass they fail to match); per-cell terms snap to 1e-9 fixed point
    before the sum per the iterative-parity rule, so partition order
    can't move the score. Cost: one user-keyed window, two bounded
    aggs, and a |users| x <=25-cell broadcast expansion."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type").over(w).alias("t2"),
    ).filter(F.col("t2").isNotNull())
    g = tr.groupBy("t1", "t2").agg(F.count("*").cast("bigint").alias("c_g"))
    n_g = g.agg(F.sum("c_g").cast("bigint").alias("n_g"))
    u = tr.groupBy("user_id", "t1", "t2").agg(
        F.count("*").cast("bigint").alias("c_u")
    )
    un = u.groupBy("user_id").agg(F.sum("c_u").cast("bigint").alias("n_u"))
    cells = (
        un.crossJoin(F.broadcast(g))
        .join(u, ["user_id", "t1", "t2"], "left")
        .crossJoin(F.broadcast(n_g))
        .select(
            "user_id",
            "n_u",
            "c_g",
            "n_g",
            F.coalesce(F.col("c_u"), F.lit(0)).alias("c_u"),
        )
    )
    term_fp = F.round(
        F.lit(1_000_000_000.0)
        * F.abs(
            F.col("c_u").cast("double") / F.col("n_u")
            - F.col("c_g").cast("double") / F.col("n_g")
        )
    ).cast("bigint")
    return cells.groupBy("user_id", F.col("n_u").alias("n_transitions")).agg(
        (
            F.sum(term_fp).cast("double") / F.lit(2_000_000_000.0)
        ).alias("tv_distance")
    )


@_q(
    "events_out_of_order_audit",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    seq AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
      FROM ev
    ), flags AS (
      SELECT user_id,
             CASE WHEN prev_ts IS NOT NULL AND ts < prev_ts
                  THEN 1 ELSE 0 END AS inverted,
             CASE WHEN prev_ts IS NOT NULL AND ts < prev_ts
                  THEN epoch_us(prev_ts) - epoch_us(ts) ELSE 0 END AS back_us
      FROM seq
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(inverted) AS BIGINT) AS n_inversions,
           CAST(SUM(inverted) AS DOUBLE) / COUNT(*) AS inversion_rate,
           CAST(MAX(back_us) AS BIGINT) AS max_backstep_us,
           CAST(SUM(back_us) AS BIGINT) AS total_backstep_us
    FROM flags
    """,
)
def events_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order-arrival audit: within each user's stream, count the
    adjacent pairs where ARRIVAL order (event_id, the ingestion
    sequence) contradicts EVENT time, and measure the largest/total
    backstep — the empirical disorder a watermark must absorb, read
    alongside events_watermark_late_audit (which sizes lateness against
    a candidate watermark; this measures the raw inversion structure
    with no watermark assumed). Adjacent inversions are the O(n)
    SQL-expressible disorder measure (full Kendall tau needs a
    merge-count — overkill for sizing); exact integer micros, one
    user-keyed window, single-row report."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    ts = F.col("ts").cast("timestamp")
    seq = ev.select(
        "user_id",
        ts.alias("ts"),
        F.lag(ts).over(w).alias("prev_ts"),
    )
    inv = F.col("prev_ts").isNotNull() & (F.col("ts") < F.col("prev_ts"))
    back = F.when(
        inv, F.unix_micros(F.col("prev_ts")) - F.unix_micros(F.col("ts"))
    ).otherwise(0)
    flags = seq.select(
        F.when(inv, 1).otherwise(0).alias("inverted"), back.alias("back_us")
    )
    return flags.agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("inverted").cast("bigint").alias("n_inversions"),
        (F.sum("inverted").cast("double") / F.count("*")).alias(
            "inversion_rate"
        ),
        F.max("back_us").cast("bigint").alias("max_backstep_us"),
        F.sum("back_us").cast("bigint").alias("total_backstep_us"),
    )


@_q(
    "events_linear_attribution",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    purchases AS (
      SELECT event_id AS pid, user_id, ts AS pts FROM ev
      WHERE event_type = 'purchase'
    ), touches AS (
      SELECT p.pid, e.event_type AS channel
      FROM purchases p
      JOIN ev e ON e.user_id = p.user_id
               AND e.event_type IN ('click', 'view', 'share')
               AND e.ts < p.pts
               AND e.ts >= p.pts - INTERVAL 1 HOUR
    ), credits AS (
      SELECT pid, channel,
             CAST(COUNT(*) AS BIGINT) AS n_ch,
             CAST(SUM(COUNT(*)) OVER (PARTITION BY pid) AS BIGINT) AS n_all
      FROM touches GROUP BY pid, channel
    )
    SELECT channel,
           CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases_touched,
           CAST(SUM(CAST(round(1000000.0 * n_ch / n_all) AS BIGINT))
                AS BIGINT) AS credit_fp6,
           CAST(SUM(CAST(round(1000000.0 * n_ch / n_all) AS BIGINT))
                AS DOUBLE) / 1000000.0 AS attributed_purchases
    FROM credits GROUP BY channel
    """,
)
def events_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every engagement touch (click /
    view / share) in the hour before a purchase shares that purchase's
    credit equally — the fairest of the standard attribution models
    and the one whose arithmetic actually needs care at scale
    (last-touch is just the graded as-of join; linear splits
    fractional credit). Per-purchase channel credit n_ch/n_all snaps
    to 1e-6 fixed point BEFORE the cross-purchase sum, so the
    channel totals are order-exact and the fixed-point column grades
    bit-for-bit. The touch join is user-keyed with a 1-hour band —
    the bounded range-join shape the temporal entries established; a
    purchase with no prior touches simply earns no row (unattributed
    mass = purchases minus SUM(attributed), derivable)."""
    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("puser"),
        ts.alias("pts"),
    )
    e = ev.select(
        "user_id", F.col("event_type").alias("channel"), ts.alias("ets")
    ).filter(F.col("channel").isin("click", "view", "share"))
    touches = purchases.join(
        e,
        (F.col("user_id") == F.col("puser"))
        & (F.col("ets") < F.col("pts"))
        & (F.col("ets") >= F.col("pts") - F.expr("INTERVAL 1 HOUR")),
    ).select("pid", "channel")
    wp = Window.partitionBy("pid")
    credits = (
        touches.groupBy("pid", "channel")
        .agg(F.count("*").cast("bigint").alias("n_ch"))
        .withColumn("n_all", F.sum("n_ch").over(wp).cast("bigint"))
    )
    fp = F.round(
        F.lit(1_000_000.0) * F.col("n_ch") / F.col("n_all")
    ).cast("bigint")
    return credits.groupBy("channel").agg(
        F.countDistinct("pid").cast("bigint").alias("n_purchases_touched"),
        F.sum(fp).cast("bigint").alias("credit_fp6"),
        (F.sum(fp).cast("double") / F.lit(1_000_000.0)).alias(
            "attributed_purchases"
        ),
    )


@_q(
    "events_transition_latency",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    seq AS (
      SELECT event_type AS t1,
             LEAD(event_type) OVER w AS t2,
             epoch_us(LEAD(ts) OVER w) - epoch_us(ts) AS gap_us
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1, t2,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(SUM(CAST(gap_us AS DECIMAL(38,0))) AS BIGINT)
             AS total_gap_us,
           CAST(CAST(SUM(CAST(gap_us AS DECIMAL(38,0))) AS BIGINT) AS DOUBLE)
             / COUNT(*) AS mean_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM seq WHERE t2 IS NOT NULL
    GROUP BY t1, t2
    """,
)
def events_transition_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transition LATENCY matrix: mean and max time between consecutive
    event types per user — the process-mining companion to
    events_type_transitions (which counts WHAT follows what; this
    measures HOW LONG the step takes, the number funnel SLAs and
    session-timeout choices actually need, e.g. view->purchase median
    minutes vs error->click retry seconds). Gaps are exact integer
    micros; per-pair sums go through DECIMAL then the BIGINT pivot
    (30-day gaps x 600k rows approach exact-double limits), and the
    mean closes in one double division. One user-keyed window shuffle,
    |event types|^2 output keys."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type").over(w).alias("t2"),
        (F.lead(ts_us).over(w) - ts_us).alias("gap_us"),
    ).filter(F.col("t2").isNotNull())
    total = F.sum(F.col("gap_us").cast("decimal(38,0)")).cast("bigint")
    return seq.groupBy("t1", "t2").agg(
        F.count("*").cast("bigint").alias("n_transitions"),
        total.alias("total_gap_us"),
        (total.cast("double") / F.count("*")).alias("mean_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
    )


@_q(
    "events_type_daily_correlation",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ev GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(a.n) AS BIGINT) AS sx,
             CAST(SUM(b.n) AS BIGINT) AS sy,
             CAST(SUM(a.n * b.n) AS BIGINT) AS sxy,
             CAST(SUM(a.n * a.n) AS BIGINT) AS sxx,
             CAST(SUM(b.n * b.n) AS BIGINT) AS syy
      FROM daily a JOIN daily b
        ON a.day = b.day AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_days,
           (CAST(n_days AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (SQRT(CAST(n_days AS DOUBLE) * sxx
                     - CAST(sx AS DOUBLE) * sx)
                * SQRT(CAST(n_days AS DOUBLE) * syy
                       - CAST(sy AS DOUBLE) * sy)) AS pearson_corr
    FROM pairs
    """,
)
def events_type_daily_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily co-movement matrix: Pearson correlation between every pair
    of event types' daily-volume series — correlated streams share a
    driver (real traffic moves clicks AND views together; a decoupled
    series is a bot, an outage, or an instrumentation change, and a
    correlation BREAK localizes when it happened). The agg_corr_exact
    technique on the bounded daily table: all five moment sums are
    exact BIGINTs accumulated in ONE pass over the day-joined pairs,
    and the correlation closes in a single token-identical double
    expression (SQRT only). |types|^2/2 output rows; the corpus is
    scanned once for the daily counts."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
        "event_type",
    ).agg(F.count("*").cast("bigint").alias("n"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum("a.n").cast("bigint").alias("sx"),
            F.sum("b.n").cast("bigint").alias("sy"),
            F.sum(F.col("a.n") * F.col("b.n")).cast("bigint").alias("sxy"),
            F.sum(F.col("a.n") * F.col("a.n")).cast("bigint").alias("sxx"),
            F.sum(F.col("b.n") * F.col("b.n")).cast("bigint").alias("syy"),
        )
    )
    nd = F.col("n_days").cast("double")
    corr = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        F.sqrt(nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * F.sqrt(nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return pairs.select("type_a", "type_b", "n_days", corr.alias("pearson_corr"))


@_q(
    "events_changepoint_scan",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    daily AS (
      SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             COUNT(*) AS c
      FROM ev GROUP BY 1, 2
    ), seq AS (
      SELECT event_type, day, c,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             CAST(SUM(c) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS prefix_sum,
             COUNT(*) OVER (PARTITION BY event_type) AS n_days,
             CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS total_sum
      FROM daily
    ), scored AS (
      SELECT event_type, day,
             CAST(prefix_sum AS DOUBLE) / rn AS mean_before,
             CAST(total_sum - prefix_sum AS DOUBLE) / (n_days - rn) AS mean_after,
             ABS(CAST(prefix_sum AS DOUBLE) / rn
                 - CAST(total_sum - prefix_sum AS DOUBLE) / (n_days - rn))
               * SQRT(CAST(rn AS DOUBLE) * (n_days - rn) / n_days) AS score,
             n_days,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY ABS(CAST(prefix_sum AS DOUBLE) / rn
                            - CAST(total_sum - prefix_sum AS DOUBLE) / (n_days - rn))
                        * SQRT(CAST(rn AS DOUBLE) * (n_days - rn) / n_days) DESC,
                        day
             ) AS pick
      FROM seq WHERE rn < n_days
    )
    SELECT event_type, day AS split_day, mean_before, mean_after, score,
           CAST(n_days AS BIGINT) AS n_days
    FROM scored WHERE pick = 1
    """,
)
def events_changepoint_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection (binary segmentation, first split) on the
    daily count series of each event type: every candidate split day is
    scored by the between-segment mean gap weighted by
    sqrt(n_pre * n_post / n) — the two-sample CUSUM statistic — and the
    argmax split is returned with the before/after means. The O(n^2)
    naive scan collapses to one window pass over prefix sums: counts are
    exact BIGINTs, each candidate's score is pure per-row IEEE arithmetic
    on those integers (single divisions + one correctly-rounded SQRT —
    no libm pow/log), so the argmax is deterministic in both engines
    with the day tie-break. Scale: the scan runs over the
    |types x calendar-days| reduced table; the raw stream contributes one
    map-side-combinable count."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("c"))
    wseq = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    seq = daily.select(
        "event_type",
        "day",
        F.row_number().over(wseq).alias("rn"),
        F.sum("c")
        .over(wseq.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("prefix_sum"),
        F.count("*").over(wall).alias("n_days"),
        F.sum("c").over(wall).cast("bigint").alias("total_sum"),
    ).filter(F.col("rn") < F.col("n_days"))
    mean_before = F.col("prefix_sum").cast("double") / F.col("rn")
    mean_after = (F.col("total_sum") - F.col("prefix_sum")).cast("double") / (
        F.col("n_days") - F.col("rn")
    )
    score = F.abs(mean_before - mean_after) * F.sqrt(
        F.col("rn").cast("double")
        * (F.col("n_days") - F.col("rn"))
        / F.col("n_days")
    )
    scored = seq.select(
        "event_type",
        "day",
        mean_before.alias("mean_before"),
        mean_after.alias("mean_after"),
        score.alias("score"),
        "n_days",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy(F.desc(score), "day"))
        .alias("pick"),
    )
    return scored.filter(F.col("pick") == 1).select(
        "event_type",
        F.col("day").alias("split_day"),
        "mean_before",
        "mean_after",
        "score",
        F.col("n_days").cast("bigint").alias("n_days"),
    )


@_q(
    "events_funnel_time_constrained",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    s1 AS (
      SELECT user_id, MIN(ts) AS ts_view
      FROM ev WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS ts_click
      FROM ev e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click'
        AND e.ts > s1.ts_view
        AND e.ts <= s1.ts_view + INTERVAL 30 MINUTE
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS ts_purchase
      FROM ev e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > s2.ts_click
        AND e.ts <= s2.ts_click + INTERVAL 30 MINUTE
      GROUP BY e.user_id
    )
    SELECT s1.user_id, s1.ts_view, s2.ts_click, s3.ts_purchase,
           CAST(CASE WHEN s3.ts_purchase IS NOT NULL THEN 3
                     WHEN s2.ts_click IS NOT NULL THEN 2
                     ELSE 1 END AS BIGINT) AS stage_reached
    FROM s1
    LEFT JOIN s2 ON s2.user_id = s1.user_id
    LEFT JOIN s3 ON s3.user_id = s1.user_id
    """,
)
def events_funnel_time_constrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained conversion funnel: view -> click -> purchase where
    each transition must land within 30 minutes of the anchor step —
    the funnel shape product analytics actually runs (the unconstrained
    ordered funnel is ``events_funnel_ordered``). Earliest-qualifying
    semantics are pinned: the anchor is the user's FIRST view, the click
    is the first click inside that view's window, the purchase the first
    inside that click's window — so the result is deterministic, not
    dependent on which qualifying chain a traversal happens to find.
    Plan shape: three hash aggregations and two equi-joins, all keyed on
    user_id (one shuffle key end to end, co-partitioned by AQE); no
    window over the raw stream, no per-user sequence materialization."""
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_view"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("ts_view"))
            & (F.col("ts") <= F.col("ts_view") + F.expr("INTERVAL 30 MINUTES"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("ts_click"))
            & (F.col("ts") <= F.col("ts_click") + F.expr("INTERVAL 30 MINUTES"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_purchase"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "ts_view",
            "ts_click",
            "ts_purchase",
            F.when(F.col("ts_purchase").isNotNull(), 3)
            .when(F.col("ts_click").isNotNull(), 2)
            .otherwise(1)
            .cast("bigint")
            .alias("stage_reached"),
        )
    )


@_q(
    "events_whale_share",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    per_user AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, user_id,
             SUM(CAST(value AS DECIMAL(30,4))) AS user_value
      FROM ev GROUP BY 1, 2
    ), tiled AS (
      SELECT day, user_id, user_value,
             NTILE(10) OVER (PARTITION BY day
                             ORDER BY user_value DESC, user_id) AS decile
      FROM per_user
    )
    SELECT day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(user_value) AS DOUBLE) AS total_value,
           CAST(SUM(CASE WHEN decile = 1 THEN user_value
                         ELSE CAST(0 AS DECIMAL(30,4)) END) AS DOUBLE)
             AS top_decile_value,
           CAST(SUM(CASE WHEN decile = 1 THEN user_value
                         ELSE CAST(0 AS DECIMAL(30,4)) END) AS DOUBLE)
             / CAST(SUM(user_value) AS DOUBLE) AS whale_share
    FROM tiled GROUP BY day
    """,
)
def events_whale_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration ("whale") monitor: per day, the share of
    total event value contributed by the top decile of users — the
    concentration KPI that decides whether a day's revenue move is
    broad-based or three accounts. Per-user day values are exact
    DECIMAL sums; the decile assignment is NTILE over (value DESC,
    user_id) so ties are pinned; the day rollup re-aggregates the
    DECIMALs exactly and only the final shares are (single-division)
    doubles. Two shuffles — (day,user) partial agg, then the day
    window over the reduced per-user table — both keyed the way a
    cluster run wants them."""
    from .helpers import DEC as _DEC

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy(
        F.to_date("ts").alias("day"), "user_id"
    ).agg(F.sum(F.col("value").cast(_DEC)).alias("user_value"))
    tiled = per_user.withColumn(
        "decile",
        F.ntile(10).over(
            Window.partitionBy("day").orderBy(
                F.desc("user_value"), "user_id"
            )
        ),
    )
    zero = F.lit(0).cast(_DEC)
    whale = F.sum(
        F.when(F.col("decile") == 1, F.col("user_value")).otherwise(zero)
    )
    return tiled.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum("user_value").cast("double").alias("total_value"),
        whale.cast("double").alias("top_decile_value"),
        (whale.cast("double") / F.sum("user_value").cast("double")).alias(
            "whale_share"
        ),
    )


@_q(
    "events_cohort_ltv",
    f"""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    firsts AS (
      SELECT user_id, MIN(CAST(DATE_TRUNC('day', ts) AS DATE)) AS cohort_day
      FROM ev GROUP BY user_id
    ), daily AS (
      SELECT e.user_id, f.cohort_day,
             CAST(DATE_TRUNC('day', e.ts) AS DATE) AS day,
             SUM(CAST(e.value AS DECIMAL(30,4))) AS day_value
      FROM ev e JOIN firsts f USING (user_id)
      GROUP BY 1, 2, 3
    ), aged AS (
      SELECT cohort_day, day - cohort_day AS age_days, user_id, day_value
      FROM daily
    ), cohort_sizes AS (
      SELECT cohort_day, COUNT(DISTINCT user_id) AS cohort_users
      FROM aged GROUP BY cohort_day
    ), per_age AS (
      SELECT cohort_day, age_days, SUM(day_value) AS age_value
      FROM aged GROUP BY cohort_day, age_days
    ), cum AS (
      SELECT cohort_day, age_days,
             SUM(age_value) OVER (
               PARTITION BY cohort_day ORDER BY age_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_value
      FROM per_age
    )
    SELECT c.cohort_day, CAST(c.age_days AS BIGINT) AS age_days,
           CAST(s.cohort_users AS BIGINT) AS cohort_users,
           CAST(c.cum_value AS DOUBLE) AS cum_value,
           CAST(c.cum_value AS DOUBLE) / s.cohort_users
             AS ltv_per_user
    FROM cum c JOIN cohort_sizes s USING (cohort_day)
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users grouped by first-seen day, and
    for each cohort age (days since acquisition) the cumulative event
    value and the per-acquired-user LTV — the growth-analytics curve
    that decides payback windows, complementing events_cohort_retention
    (presence) with value. Sums stay exact DECIMAL through the cohort/
    age rollup AND the running cumulative window (decimal window sums
    are deterministic; only the final per-user division is a double).
    Plan: first-touch table (one user-keyed agg), fact re-key join, a
    (cohort, age) reduced rollup, then the cumulative window over
    |cohorts x ages| rows — bounded by the calendar square, not the
    data."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    daily = (
        ev.join(firsts, "user_id")
        .groupBy(
            "user_id", "cohort_day", F.to_date("ts").alias("day")
        )
        .agg(F.sum(F.col("value").cast(DEC)).alias("day_value"))
    )
    aged = daily.select(
        "cohort_day",
        F.datediff("day", "cohort_day").alias("age_days"),
        "user_id",
        "day_value",
    )
    sizes = aged.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("cohort_users")
    )
    per_age = aged.groupBy("cohort_day", "age_days").agg(
        F.sum("day_value").alias("age_value")
    )
    cum = per_age.withColumn(
        "cum_value",
        F.sum("age_value").over(
            Window.partitionBy("cohort_day")
            .orderBy("age_days")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return cum.join(sizes, "cohort_day").select(
        "cohort_day",
        F.col("age_days").cast("bigint").alias("age_days"),
        F.col("cohort_users").cast("bigint").alias("cohort_users"),
        F.col("cum_value").cast("double").alias("cum_value"),
        (F.col("cum_value").cast("double") / F.col("cohort_users")).alias(
            "ltv_per_user"
        ),
    )


@_q(
    "events_activity_streaks",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    days AS (
      SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS day
      FROM ev
    ), islands AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                        AS INTEGER) AS grp
      FROM days
    ), streaks AS (
      SELECT user_id, grp, COUNT(*) AS streak_len, MAX(day) AS streak_end
      FROM islands GROUP BY user_id, grp
    ), gmax AS (SELECT MAX(day) AS corpus_max_day FROM days)
    SELECT s.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(s.streak_len) AS BIGINT) AS longest_streak_days,
           CAST(COALESCE(MAX(CASE WHEN s.streak_end = g.corpus_max_day
                                  THEN s.streak_len END), 0) AS BIGINT)
             AS current_streak_days
    FROM streaks s, gmax g
    GROUP BY s.user_id
    """,
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-activity streaks per user (the engagement mechanic every
    consumer product tracks): distinct active days collapse to
    consecutive-run islands via the gaps-and-islands trick (day minus
    dense rank is constant within a run — pure date/integer arithmetic),
    giving streak count, the longest streak, and the CURRENT streak
    (a run ending on the corpus's latest day; zero otherwise, pinned by
    the broadcast 1-row corpus max). Work after the distinct-day
    reduction is |user-days|, and the window partitions on the user key
    the reduction already shuffled on."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    islands = days.select(
        "user_id",
        "day",
        F.date_sub(
            "day",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("day")
            ),
        ).alias("grp"),
    )
    streaks = islands.groupBy("user_id", "grp").agg(
        F.count("*").alias("streak_len"), F.max("day").alias("streak_end")
    )
    gmax = days.agg(F.max("day").alias("corpus_max_day"))
    return (
        streaks.crossJoin(F.broadcast(gmax))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_streaks"),
            F.max("streak_len").cast("bigint").alias("longest_streak_days"),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("streak_end") == F.col("corpus_max_day"),
                        F.col("streak_len"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("current_streak_days"),
        )
    )


@_q(
    "events_diff_in_diff",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    lo AS (SELECT MIN(CAST(DATE_TRUNC('day', ts) AS DATE)) AS min_day FROM ev),
    cells AS (
      SELECT CASE WHEN SUBSTR(md5(CAST(e.user_id AS VARCHAR)), 1, 1)
                       < '8' THEN 'treat' ELSE 'control' END AS arm,
             CASE WHEN CAST(DATE_TRUNC('day', e.ts) AS DATE)
                       < lo.min_day + 15 THEN 'pre' ELSE 'post' END AS period,
             e.value
      FROM ev e, lo
    ), agg AS (
      SELECT arm, period,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(30,4))) AS s
      FROM cells GROUP BY arm, period
    ), means AS (
      SELECT
        MAX(CASE WHEN arm='treat' AND period='pre'
                 THEN CAST(s AS DOUBLE) / n END) AS treat_pre,
        MAX(CASE WHEN arm='treat' AND period='post'
                 THEN CAST(s AS DOUBLE) / n END) AS treat_post,
        MAX(CASE WHEN arm='control' AND period='pre'
                 THEN CAST(s AS DOUBLE) / n END) AS control_pre,
        MAX(CASE WHEN arm='control' AND period='post'
                 THEN CAST(s AS DOUBLE) / n END) AS control_post,
        CAST(SUM(n) AS BIGINT) AS n_events
      FROM agg
    )
    SELECT treat_pre, treat_post, control_pre, control_post, n_events,
           (treat_post - treat_pre) - (control_post - control_pre)
             AS diff_in_diff
    FROM means
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout: users hash-split 50/50 into
    treat/control (the md5 membership contract the A/B entry uses), the
    calendar split 15 days after corpus start separates pre/post, and
    the effect estimate is the classic
    (treat_post - treat_pre) - (control_post - control_pre) on mean
    event value — the quasi-experimental companion to
    events_ab_experiment_analysis that nets out both arm-level
    baselines and secular time trends. Cell means are exact DECIMAL
    sums over exact counts (one division per cell); the DiD combination
    is three IEEE subtractions with pinned shape. One
    map-side-combinable 4-cell aggregate over a single scan."""
    ev = load_table(spark, sf_dir, "events")
    lo = ev.agg(F.min(F.to_date("ts")).alias("min_day"))
    cells = ev.crossJoin(F.broadcast(lo)).select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            "treat",
        )
        .otherwise("control")
        .alias("arm"),
        F.when(
            F.to_date("ts") < F.date_add("min_day", 15), "pre"
        )
        .otherwise("post")
        .alias("period"),
        "value",
    )
    agg = cells.groupBy("arm", "period").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(DEC)).alias("s"),
    )

    def cell(arm, period):
        return F.max(
            F.when(
                (F.col("arm") == arm) & (F.col("period") == period),
                F.col("s").cast("double") / F.col("n"),
            )
        )

    means = agg.agg(
        cell("treat", "pre").alias("treat_pre"),
        cell("treat", "post").alias("treat_post"),
        cell("control", "pre").alias("control_pre"),
        cell("control", "post").alias("control_post"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    return means.select(
        "treat_pre",
        "treat_post",
        "control_pre",
        "control_post",
        "n_events",
        (
            (F.col("treat_post") - F.col("treat_pre"))
            - (F.col("control_post") - F.col("control_pre"))
        ).alias("diff_in_diff"),
    )


@_q(
    "events_markov_baseline_accuracy",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM ev
    ), trans AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    ), best AS (
      SELECT prev_type, next_type AS predicted_next, n AS n_correct,
             CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS n_total,
             ROW_NUMBER() OVER (PARTITION BY prev_type
                                ORDER BY n DESC, next_type) AS rn
      FROM trans
    )
    SELECT prev_type, predicted_next, n_correct, n_total,
           CAST(n_correct AS DOUBLE) / n_total AS accuracy
    FROM best WHERE rn = 1
    """,
)
def events_markov_baseline_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-class next-event baseline: for each current event type,
    the most frequent next type (deterministic tie-break) and the
    accuracy that predict-the-mode rule achieves — the floor every
    sequence model must beat before it earns its complexity, computed
    directly from the graded first-order transition matrix. One lag
    window + a |types|^2 aggregate; the mode-vs-total split is a window
    over the tiny matrix."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count("*").cast("bigint").alias("n"))
    best = trans.select(
        "prev_type",
        F.col("next_type").alias("predicted_next"),
        F.col("n").alias("n_correct"),
        F.sum("n")
        .over(Window.partitionBy("prev_type"))
        .cast("bigint")
        .alias("n_total"),
        F.row_number()
        .over(
            Window.partitionBy("prev_type").orderBy(
                F.desc("n"), "next_type"
            )
        )
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    return best.select(
        "prev_type",
        "predicted_next",
        "n_correct",
        "n_total",
        (F.col("n_correct").cast("double") / F.col("n_total")).alias(
            "accuracy"
        ),
    )


@_q(
    "events_behavior_predictability",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM ev
    ), trans AS (
      SELECT user_id, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY user_id, next_type
    ), per_user AS (
      SELECT user_id,
             CAST(SUM(c) AS BIGINT) AS n_transitions,
             CAST(SUM(c * c) AS BIGINT) AS s2,
             CAST(MAX(c) AS BIGINT) AS modal_c
      FROM trans GROUP BY user_id
    )
    SELECT user_id, n_transitions,
           1 - ((CAST(s2 AS DOUBLE) / n_transitions) / n_transitions)
             AS next_type_impurity,
           CAST(modal_c AS DOUBLE) / n_transitions AS modal_share
    FROM per_user
    """,
)
def events_behavior_predictability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral predictability: the Gini impurity of each
    user's next-event-type distribution (1 - sum p^2 — the log-free
    entropy stand-in) plus the modal-action share. Near-zero impurity =
    a highly scripted/bot-like stream; high impurity with many
    transitions = diverse organic behavior — the per-user companion to
    the corpus-level transition matrix and the TVD divergence entry,
    cheap enough to compute for every user (one lag window + two
    map-side-combinable aggregates; all mass terms exact BIGINT)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        "user_id", F.col("event_type").alias("next_type")
    ).agg(F.count("*").cast("bigint").alias("c"))
    per_user = trans.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_transitions"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        F.max("c").cast("bigint").alias("modal_c"),
    )
    return per_user.select(
        "user_id",
        "n_transitions",
        (
            F.lit(1)
            - (
                (F.col("s2").cast("double") / F.col("n_transitions"))
                / F.col("n_transitions")
            )
        ).alias("next_type_impurity"),
        (F.col("modal_c").cast("double") / F.col("n_transitions")).alias(
            "modal_share"
        ),
    )


@_q(
    "events_rate_anomaly_anscombe",
    """
    WITH ev AS (
      SELECT event_type,
             CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
      FROM events
    ), bounds AS (SELECT MAX(day) AS dmax FROM ev),
    marked AS (
      SELECT event_type, day, day > b.dmax - 7 AS recent
      FROM ev CROSS JOIN bounds b
    ), gdays AS (
      SELECT COUNT(DISTINCT CASE WHEN recent THEN day END) AS d_r,
             COUNT(DISTINCT CASE WHEN NOT recent THEN day END) AS d_b
      FROM marked
    ), per AS (
      SELECT event_type,
             CAST(COUNT(CASE WHEN recent THEN 1 END) AS BIGINT) AS n_recent,
             CAST(COUNT(CASE WHEN NOT recent THEN 1 END) AS BIGINT)
               AS n_baseline
      FROM marked GROUP BY event_type
    )
    SELECT event_type, n_recent, n_baseline,
           (CAST(n_baseline AS DOUBLE) * d_r) / d_b AS expected_recent,
           2.0 * (SQRT(n_recent + 0.375)
                  - SQRT((CAST(n_baseline AS DOUBLE) * d_r) / d_b + 0.375))
             AS anscombe_z,
           CAST(CASE WHEN ABS(
                  2.0 * (SQRT(n_recent + 0.375)
                         - SQRT((CAST(n_baseline AS DOUBLE) * d_r) / d_b
                                + 0.375))) > 3.0
                THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM per CROSS JOIN gdays
    """,
)
def events_rate_anomaly_anscombe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event-rate anomaly via the Anscombe variance-stabilizing
    transform: the last 7 calendar days are the test window, everything
    before is baseline, expected recent count = baseline count scaled by
    the day-count ratio, and z = 2*(sqrt(observed+3/8) -
    sqrt(expected+3/8)) — the standard Poisson rate test that stays
    portable because SQRT is IEEE-correctly-rounded in both engines and
    the only other float ops are one pinned-shape multiply/divide chain
    (no fractional POW, no log; the 3/8 literal is dyadic-exact). One
    events scan does the per-type conditional counts map-side; the
    day-count denominators ride a broadcast 1-row aggregate. At 100 TB
    the scan is the only full pass and it reduces to |event_types|
    rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    bounds = ev.agg(F.max("day").alias("dmax"))
    marked = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "day",
        (F.col("day") > F.date_sub("dmax", 7)).alias("recent"),
    )
    gdays = marked.agg(
        F.countDistinct(
            F.when(F.col("recent"), F.col("day"))
        ).alias("d_r"),
        F.countDistinct(
            F.when(~F.col("recent"), F.col("day"))
        ).alias("d_b"),
    )
    per = marked.groupBy("event_type").agg(
        F.count(F.when(F.col("recent"), 1)).cast("bigint").alias("n_recent"),
        F.count(F.when(~F.col("recent"), 1))
        .cast("bigint")
        .alias("n_baseline"),
    )
    expected = (F.col("n_baseline").cast("double") * F.col("d_r")) / F.col(
        "d_b"
    )
    z = 2.0 * (
        F.sqrt(F.col("n_recent") + F.lit(0.375))
        - F.sqrt(expected + F.lit(0.375))
    )
    return per.crossJoin(F.broadcast(gdays)).select(
        "event_type",
        "n_recent",
        "n_baseline",
        expected.alias("expected_recent"),
        z.alias("anscombe_z"),
        F.when(F.abs(z) > 3.0, 1).otherwise(0).cast("bigint").alias(
            "is_anomaly"
        ),
    )


@_q(
    "events_cadence_autocorrelation",
    """
    WITH ev AS (
      SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
      FROM events
    ), daily AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS cnt FROM ev GROUP BY day
    ), stats AS (
      SELECT CAST(SUM(cnt) AS BIGINT) // COUNT(*) AS mu FROM daily
    ), dev AS (
      SELECT day, cnt - s.mu AS dev FROM daily CROSS JOIN stats s
    ), den AS (
      SELECT CAST(SUM(dev * dev) AS BIGINT) AS den FROM dev
    ), lags AS (SELECT UNNEST(range(1, 8)) AS lag_k),
    pairs AS (
      SELECT l.lag_k,
             CAST(SUM(a.dev * b.dev) AS BIGINT) AS num,
             COUNT(*) AS n_pairs
      FROM lags l CROSS JOIN dev a
      JOIN dev b ON b.day = a.day + CAST(l.lag_k AS INTEGER)
      GROUP BY l.lag_k
    )
    SELECT CAST(p.lag_k AS BIGINT) AS lag_k,
           CAST(p.n_pairs AS BIGINT) AS n_pairs,
           p.num AS num, d.den AS den,
           CAST(p.num AS DOUBLE) / d.den AS autocorr
    FROM pairs p CROSS JOIN den d
    """,
)
def events_cadence_autocorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily event count series — the
    seasonality probe run before choosing a forecast model (a weekly
    cycle shows as a lag-7 peak). Exact integer arithmetic end-to-end:
    deviations center on the integer floor-mean (mu = total div n_days,
    the round-7 contract that keeps every sum in BIGINT and
    order-independent), numerator pairs come from a calendar self-join
    (day + k, exact date arithmetic — missing days drop pairs rather
    than fabricating zeros), and the single float op is the final
    num/den division of exact BIGINTs. The series is |days|-bounded
    (tiny), so the lag joins are broadcast-trivial at any corpus
    scale."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("day").agg(F.count("*").cast("bigint").alias("cnt"))
    # |days|-bounded and feeds four downstream jobs
    daily = daily.localCheckpoint()
    stats = daily.agg(
        F.expr("CAST(SUM(cnt) AS BIGINT) div COUNT(*)").alias("mu")
    )
    dev = daily.crossJoin(F.broadcast(stats)).select(
        "day", (F.col("cnt") - F.col("mu")).alias("dev")
    )
    den = dev.agg(
        F.sum(F.col("dev") * F.col("dev")).cast("bigint").alias("den")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag_k"))
    a = dev.alias("a")
    b = dev.alias("b")
    pairs = (
        lags.crossJoin(a)
        .withColumn("tday", F.expr("date_add(day, lag_k)"))
        .join(b, F.col("b.day") == F.col("tday"))
        .groupBy("lag_k")
        .agg(
            F.sum(F.col("a.dev") * F.col("b.dev"))
            .cast("bigint")
            .alias("num"),
            F.count("*").cast("bigint").alias("n_pairs"),
        )
    )
    return pairs.crossJoin(F.broadcast(den)).select(
        F.col("lag_k").cast("bigint").alias("lag_k"),
        "n_pairs",
        "num",
        "den",
        (F.col("num").cast("double") / F.col("den")).alias("autocorr"),
    )


@_q(
    "events_survival_risk_table",
    """
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), horizon AS (
      SELECT MAX(ts) AS h FROM ev
    ), u AS (
      SELECT user_id,
             CAST(DATE_DIFF('day', MIN(ts), MAX(ts)) AS BIGINT)
               AS duration_days,
             CASE WHEN MAX(ts) < (SELECT h FROM horizon)
                       - INTERVAL 7 DAY
                  THEN 1 ELSE 0 END AS churned
      FROM ev GROUP BY user_id
    ), per AS (
      SELECT duration_days,
             CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(churned) AS BIGINT) AS d_events
      FROM u GROUP BY duration_days
    ), risk AS (
      SELECT duration_days, d_events,
             CAST(n_total - d_events AS BIGINT) AS n_censored_at,
             SUM(n_total) OVER (ORDER BY duration_days DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS n_at_risk
      FROM per
    )
    SELECT duration_days, CAST(n_at_risk AS BIGINT) AS n_at_risk,
           d_events,
           CAST(n_censored_at AS BIGINT) AS n_censored_at,
           CAST((1000000000 * d_events) // n_at_risk AS BIGINT)
             AS hazard_fp
    FROM risk WHERE d_events > 0
    ORDER BY duration_days
    """,
)
def events_survival_risk_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan-Meier risk table for user lifetime (first event to last
    event, churn = last activity more than 7 days before the corpus
    horizon, else right-censored): at every duration where a churn
    occurred, the at-risk count (users whose observed duration is >= d,
    a suffix sum over the duration axis), the churn events d_d, the
    censored count at that duration, and the discrete hazard d_d/n_d on
    the 1e9 integer lattice. These are exactly the ingredients of the
    KM product-limit estimator — the survival CURVE is a running
    product of (1 - hazard), deliberately left to the caller because a
    cross-engine float product over many steps is where bit-parity
    dies; every number HERE is exact. Work: one hash agg to the
    per-user table, one hash agg to the per-duration table (calendar-
    bounded), one window over durations — the 100 TB plan."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    horizon = ev.agg(F.max("ts").alias("h"))
    u = (
        ev.groupBy("user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff(F.to_date("last_ts"), F.to_date("first_ts"))
            .cast("bigint")
            .alias("duration_days"),
            F.when(
                F.col("last_ts") < F.col("h") - F.expr("INTERVAL 7 DAY"), 1
            )
            .otherwise(0)
            .alias("churned"),
        )
    )
    per = u.groupBy("duration_days").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum("churned").cast("bigint").alias("d_events"),
    )
    w = Window.orderBy(F.col("duration_days").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per.select(
        "duration_days",
        "d_events",
        (F.col("n_total") - F.col("d_events")).alias("n_censored_at"),
        F.sum("n_total").over(w).cast("bigint").alias("n_at_risk"),
    )
    return (
        risk.filter(F.col("d_events") > 0)
        .select(
            "duration_days",
            "n_at_risk",
            "d_events",
            F.col("n_censored_at").cast("bigint").alias("n_censored_at"),
            F.expr(
                "CAST((1000000000 * d_events) div n_at_risk AS BIGINT)"
            ).alias("hazard_fp"),
        )
        .orderBy("duration_days")
    )


@_q(
    "events_attribution_position",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    p AS (
      SELECT event_id AS journey_id, user_id AS p_user, ts AS p_ts
      FROM ev WHERE event_type = 'purchase'
    ), touch AS (
      SELECT p.journey_id, e.event_type, e.ts, e.event_id
      FROM p JOIN ev e
        ON e.user_id = p.p_user
       AND e.event_type IN ('click', 'view')
       AND e.ts >= p.p_ts - INTERVAL 1 HOUR AND e.ts < p.p_ts
    ), pos AS (
      SELECT journey_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY journey_id
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY journey_id) AS n
      FROM touch
    ), credit AS (
      SELECT journey_id, event_type,
             CASE WHEN n = 1 THEN 1000000
                  WHEN n = 2 THEN 500000
                  WHEN rn = 1 OR rn = n THEN 400000
                  ELSE 200000 // (n - 2)
                       + CASE WHEN rn - 1 <= 200000 % (n - 2)
                              THEN 1 ELSE 0 END
             END AS ppm
      FROM pos
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT journey_id) AS BIGINT) AS n_journeys,
           CAST(SUM(ppm) AS BIGINT) AS credit_ppm
    FROM credit GROUP BY event_type ORDER BY event_type
    """,
)
def events_attribution_position(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution — the
    industry-standard 40/20/40 credit split the linear-attribution
    operator deliberately doesn't model: per purchase journey (click/
    view touches in the preceding hour), first and last touch get 40%
    each, the middles share 20% by exact integer division with the
    largest-remainder ppm going to the EARLIEST middles (deterministic
    by (ts, event_id)), single-touch journeys get 100%, two-touch 50/50
    — so every journey's credit sums to exactly 1,000,000 ppm (pinned
    in pytest). The join is the established interval-join shape of
    streaming_click_attribution; the position window partitions by
    journey (bounded fan-out), and all credit arithmetic is exact
    BIGINT — no float shares to drift."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("journey_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    touch = p.join(
        ev.filter(F.col("event_type").isin("click", "view")).select(
            "user_id", "event_type", "ts", "event_id"
        ),
        (F.col("user_id") == F.col("p_user"))
        & (F.col("ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("ts") < F.col("p_ts")),
    )
    w = Window.partitionBy("journey_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("journey_id")
    pos = touch.select(
        "journey_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    mid_base = F.expr("200000 div (n - 2)")
    mid_extra = F.when(
        F.col("rn") - 1 <= F.expr("200000 % (n - 2)"), 1
    ).otherwise(0)
    ppm = (
        F.when(F.col("n") == 1, 1000000)
        .when(F.col("n") == 2, 500000)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), 400000)
        .otherwise(mid_base + mid_extra)
    )
    return (
        pos.select("journey_id", "event_type", ppm.alias("ppm"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            F.countDistinct("journey_id").cast("bigint").alias("n_journeys"),
            F.sum("ppm").cast("bigint").alias("credit_ppm"),
        )
        .orderBy("event_type")
    )


@_q(
    "events_cuped_adjustment",
    """
    WITH ev AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CAST(round(COALESCE(value, 0) * 100) AS BIGINT) AS cents
      FROM events
    ), mid AS (
      -- integer microsecond midpoint: exact and identical across
      -- engines (interval halving has engine-specific granularity)
      SELECT (MIN(us) + MAX(us)) // 2 AS mid_us FROM ev
    ), u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN us <= m.mid_us THEN cents ELSE 0 END)
                  AS BIGINT) AS pre,
             CAST(SUM(CASE WHEN us > m.mid_us THEN cents ELSE 0 END)
                  AS BIGINT) AS post
      FROM ev CROSS JOIN mid m GROUP BY user_id
    ), m2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pre) AS BIGINT) AS sx,
             CAST(SUM(post) AS BIGINT) AS sy,
             CAST(SUM(pre * pre) AS BIGINT) AS sxx,
             CAST(SUM(post * post) AS BIGINT) AS syy,
             CAST(SUM(pre * post) AS BIGINT) AS sxy
      FROM u
    )
    SELECT n,
           (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
             AS theta,
           (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
             / (n * CAST(n AS DOUBLE) - n) / n AS var_post,
           ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
            * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy))
             / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
             AS var_reduction
    FROM m2
    """,
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled-experiment using pre-experiment data) — the
    variance-reduction adjustment every mature experimentation platform
    applies before reading an A/B test: per-user pre-period spend as
    the covariate for post-period spend, theta = cov(pre, post) /
    var(pre) from exact BIGINT moment sums (one hash agg over users),
    and the headline number — the fraction of post-period variance
    CUPED removes, which is exactly the squared correlation rho^2 =
    cov^2/(var_x*var_y). All moments are exact integers on the cents
    lattice; theta and rho^2 are fixed IEEE expression chains identical
    in both engines (divisions only, no libm). The A/B readout
    operator consumes theta downstream; at 100 TB this is one
    map-side-combinable scan plus arithmetic on a 1-row table."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        # NTZ-safe: load_table pins the session to UTC on the events branch,
        # so the cast is a pure reinterpretation (verify-skill contract)
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100, 0)
        .cast("bigint")
        .alias("cents"),
    )
    mid = ev.agg(
        F.expr("(min(us) + max(us)) div 2").alias("mid_us")
    )
    u = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("us") <= F.col("mid_us"), F.col("cents")).otherwise(0)
            )
            .cast("bigint")
            .alias("pre"),
            F.sum(
                F.when(F.col("us") > F.col("mid_us"), F.col("cents")).otherwise(0)
            )
            .cast("bigint")
            .alias("post"),
        )
    )
    m2 = u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pre").cast("bigint").alias("sx"),
        F.sum("post").cast("bigint").alias("sy"),
        F.sum(F.col("pre") * F.col("pre")).cast("bigint").alias("sxx"),
        F.sum(F.col("post") * F.col("post")).cast("bigint").alias("syy"),
        F.sum(F.col("pre") * F.col("post")).cast("bigint").alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov_n = n * sxy - sx * F.col("sy")
    varx_n = n * sxx - sx * F.col("sx")
    vary_n = n * syy - sy * F.col("sy")
    return m2.select(
        "n",
        (cov_n / varx_n).alias("theta"),
        (vary_n / (n * n.cast("double") - n) / n).alias("var_post"),
        ((cov_n * cov_n) / (varx_n * vary_n)).alias("var_reduction"),
    )


@_q(
    "events_attribution_window_sensitivity",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    p AS (
      SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
      FROM ev WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id AS c_user, ts AS c_ts
      FROM ev WHERE event_type = 'click'
    ), windows AS (
      SELECT w.minutes FROM (VALUES (15), (30), (60)) w(minutes)
    ), attributed AS (
      SELECT w.minutes, p.purchase_id,
             CASE WHEN EXISTS (
               SELECT 1 FROM c
               WHERE c.c_user = p.p_user
                 AND c.c_ts < p.p_ts
                 AND c.c_ts >= p.p_ts - TO_MINUTES(CAST(w.minutes AS BIGINT))
             ) THEN 1 ELSE 0 END AS has_click
      FROM p CROSS JOIN windows w
    )
    SELECT minutes,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(has_click) AS BIGINT) AS n_attributed,
           CAST((1000000 * SUM(has_click)) // COUNT(*) AS BIGINT)
             AS attributed_ppm
    FROM attributed GROUP BY minutes ORDER BY minutes
    """,
)
def events_attribution_window_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Attribution-window sensitivity sweep — the analysis that settles
    'is the click-to-purchase window 15, 30, or 60 minutes?' debates
    with data instead of convention: the fraction of purchases with at
    least one prior click inside each candidate window, on the exact
    ppm lattice. A curve that keeps climbing at 60 minutes means the
    window is truncating real credit; a flat curve means the short
    window suffices and the stream-stream join state (whose size is
    proportional to the window) can shrink. Work: purchases join
    clicks per user ONCE with the widest window, then each purchase's
    earliest-qualifying lag classifies it into every candidate window
    — one interval join, not one per window (the EXISTS in the oracle
    is the semantic spec; the engine computes min-lag and compares)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    joined = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 60 MINUTES")),
        "left",
    )
    # min lag per purchase in exact integer MICROSECONDS (the family's
    # lattice discipline — no float near the window boundary); NULL
    # when no click within the widest window
    lag_us = F.unix_micros(F.col("p_ts").cast("timestamp")) - F.unix_micros(
        F.col("c_ts").cast("timestamp")
    )
    per_purchase = joined.groupBy("purchase_id").agg(
        F.min(lag_us).alias("min_lag_us")
    )
    out = None
    for minutes in (15, 30, 60):
        has = F.when(
            F.col("min_lag_us").isNotNull()
            & (F.col("min_lag_us") <= minutes * 60 * 1000000), 1
        ).otherwise(0)
        row = per_purchase.agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.sum(has).cast("bigint").alias("n_attributed"),
        ).select(
            F.lit(minutes).cast("int").alias("minutes"),
            "n_purchases",
            "n_attributed",
            F.expr(
                "CAST((1000000 * n_attributed) div n_purchases AS BIGINT)"
            ).alias("attributed_ppm"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("minutes")


@_q(
    "events_repeat_purchase_latency",
    """
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    ), ranked AS (
      SELECT user_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts)
               AS rn
      FROM ev
    ), lat AS (
      SELECT a.user_id,
             epoch_us(b.ts) - epoch_us(a.ts) AS lat_us
      FROM ranked a JOIN ranked b
        ON b.user_id = a.user_id AND a.rn = 1 AND b.rn = 2
    ), buyers AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_buyers
      FROM ev
    )
    SELECT b.n_buyers,
           CAST(COUNT(*) AS BIGINT) AS n_repeat_buyers,
           CAST((1000000 * COUNT(*)) // b.n_buyers AS BIGINT)
             AS repeat_rate_ppm,
           CAST(MIN(lat_us) AS BIGINT) AS min_latency_us,
           CAST(MAX(lat_us) AS BIGINT) AS max_latency_us,
           CAST(SUM(lat_us) AS BIGINT) AS total_latency_us
    FROM lat CROSS JOIN buyers b
    GROUP BY b.n_buyers
    """,
)
def events_repeat_purchase_latency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-to-second-purchase latency — the repeat-purchase health
    metric next to the click-to-purchase conversion lag: of all buyers,
    how many came back (repeat rate on the ppm lattice by integer
    cross-multiplication) and how quickly (exact integer-microsecond
    latency extremes and total; the mean is total/n for the caller —
    one division deliberately left out of the hashed surface). The
    first/second purchases come from one per-user window over the
    purchase subset (tiny after the event-type filter), joined rn=1 to
    rn=2 — at 100 TB both the window and the self-join run on the
    purchase projection, never the raw stream."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
    )
    ranked = ev.select(
        "user_id",
        "us",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("us"))
        .alias("rn"),
    )
    first = ranked.filter(F.col("rn") == 1).select(
        "user_id", F.col("us").alias("us1")
    )
    second = ranked.filter(F.col("rn") == 2).select(
        "user_id", F.col("us").alias("us2")
    )
    lat = first.join(second, "user_id").select(
        (F.col("us2") - F.col("us1")).alias("lat_us")
    )
    buyers = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_buyers")
    )
    return (
        lat.crossJoin(F.broadcast(buyers))
        .groupBy("n_buyers")
        .agg(
            F.count("*").cast("bigint").alias("n_repeat_buyers"),
            F.expr(
                "CAST((1000000 * COUNT(*)) div n_buyers AS BIGINT)"
            ).alias("repeat_rate_ppm"),
            F.min("lat_us").cast("bigint").alias("min_latency_us"),
            F.max("lat_us").cast("bigint").alias("max_latency_us"),
            F.sum("lat_us").cast("bigint").alias("total_latency_us"),
        )
        .select(
            "n_buyers",
            "n_repeat_buyers",
            "repeat_rate_ppm",
            "min_latency_us",
            "max_latency_us",
            "total_latency_us",
        )
    )


# --- round-11 wave-2 events additions (docs/ROADMAP_r11.md #15-#20) --------


@_q(
    "events_stickiness_ratio",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    daily AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      FROM ev GROUP BY 1, 2
    ), weekly AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM ev GROUP BY 1
    ), rolled AS (
      SELECT week, CAST(SUM(dau) AS BIGINT) AS sum_dau,
             CAST(COUNT(*) AS BIGINT) AS n_active_days
      FROM daily GROUP BY week
    )
    SELECT w.week, w.wau, r.sum_dau, r.n_active_days,
           CAST(r.sum_dau AS DOUBLE) / CAST(r.n_active_days AS DOUBLE)
             / CAST(w.wau AS DOUBLE) AS stickiness
    FROM weekly w JOIN rolled r ON r.week = w.week
    """,
)
def events_stickiness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per ISO week — the engagement ratio product
    teams track (how much of the weekly audience shows up on an average
    day). Graded at WEEK grain because the fixture's events span a
    single month (the round-10 prototype note: month grain degenerates
    to one row); both engines' date_trunc('week') is Monday-aligned.
    Two distinct-count reductions (per day, per week) joined on week;
    the ratio is exact counts with two IEEE divisions. At 100 TB the
    distincts are the cost — both are map-side partial-distinct
    aggregations on (period, user)."""
    ev = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    day = F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    daily = ev.groupBy(week, day).agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    weekly = ev.groupBy(week).agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )
    rolled = daily.groupBy("week").agg(
        F.sum("dau").cast("bigint").alias("sum_dau"),
        F.count("*").cast("bigint").alias("n_active_days"),
    )
    return weekly.join(rolled, "week").select(
        "week",
        "wau",
        "sum_dau",
        "n_active_days",
        (
            F.col("sum_dau").cast("double")
            / F.col("n_active_days").cast("double")
            / F.col("wau").cast("double")
        ).alias("stickiness"),
    )


@_q(
    "events_power_user_curve",
    """
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ), binned AS (
      SELECT user_id, n_events,
             NTILE(10) OVER (ORDER BY n_events, user_id) AS decile
      FROM per_user
    ), tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS t FROM per_user)
    SELECT CAST(b.decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(b.n_events) AS BIGINT) AS sum_events,
           CAST(SUM(b.n_events) AS DOUBLE) / CAST(t.t AS DOUBLE)
             AS event_share
    FROM binned b CROSS JOIN tot t
    GROUP BY b.decile, t.t
    """,
)
def events_power_user_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-user activity curve: users binned into activity deciles,
    each decile's share of total events — the concentration report
    behind 'X% of users generate Y% of traffic'. NTILE over tied
    activity counts assigns buckets by ORDER position, which is
    engine-nondeterministic unless the ordering carries a unique
    tie-break — so the window orders by (n_events, user_id) on BOTH
    sides (the round-10 NTILE rule, same as quantile_binning_decile).
    One reduction to |users| rows, one single-partition window over it
    (bounded; range-partition the NTILE at 100 TB), exact integer
    shares with one final division."""
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )
    w = Window.orderBy("n_events", "user_id")
    binned = per_user.select(
        "user_id", "n_events", F.ntile(10).over(w).alias("decile")
    )
    tot = per_user.agg(F.sum("n_events").cast("bigint").alias("t"))
    return (
        binned.crossJoin(F.broadcast(tot))
        .groupBy("decile", "t")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("n_events").cast("bigint").alias("sum_events"),
        )
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            "n_users",
            "sum_events",
            (
                F.col("sum_events").cast("double") / F.col("t").cast("double")
            ).alias("event_share"),
        )
    )


def _ewma_vol_weights() -> list[int]:
    """alpha=0.25, 16-term horizon, 2^20 fixed point — the round-10
    prototype-validated non-dyadic EWMA configuration. Python computes
    the literals once at import; both engines consume identical ints."""
    return [round(0.75**k * (1 << 20)) for k in range(16)]


_EWMA_VOL_W = _ewma_vol_weights()
_EWMA_NUM = " + ".join(
    f"COALESCE({f'LAG(n, {k}) OVER w' if k else 'n'} * {wt}, 0)"
    for k, wt in enumerate(_EWMA_VOL_W)
)
_EWMA_DEN = " + ".join(
    f"CASE WHEN {f'LAG(n, {k}) OVER w' if k else 'n'} IS NOT NULL"
    f" THEN {wt} ELSE 0 END"
    for k, wt in enumerate(_EWMA_VOL_W)
)


@_q(
    "events_ewma_control_chart",
    f"""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ev GROUP BY 1
    ), terms AS (
      SELECT hour_start, n,
             {_EWMA_NUM} AS num,
             {_EWMA_DEN} AS den
      FROM hourly
      WINDOW w AS (ORDER BY hour_start)
    ), base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(n) AS BIGINT) AS s1,
             CAST(SUM(n * n) AS BIGINT) AS s2
      FROM hourly
    )
    SELECT t.hour_start, t.n,
           CAST(t.num AS DOUBLE) / CAST(t.den AS DOUBLE) AS ewma,
           CAST(b.s1 AS DOUBLE) / CAST(b.cnt AS DOUBLE)
           + 3.0 * SQRT((CAST(b.s2 AS DOUBLE)
                         - CAST(b.s1 AS DOUBLE) * CAST(b.s1 AS DOUBLE)
                           / CAST(b.cnt AS DOUBLE))
                        / (CAST(b.cnt AS DOUBLE) - 1.0))
                 * SQRT(0.25 / (2.0 - 0.25)) AS ucl,
           CAST(b.s1 AS DOUBLE) / CAST(b.cnt AS DOUBLE)
           - 3.0 * SQRT((CAST(b.s2 AS DOUBLE)
                         - CAST(b.s1 AS DOUBLE) * CAST(b.s1 AS DOUBLE)
                           / CAST(b.cnt AS DOUBLE))
                        / (CAST(b.cnt AS DOUBLE) - 1.0))
                 * SQRT(0.25 / (2.0 - 0.25)) AS lcl,
           CAST(t.num AS DOUBLE) / CAST(t.den AS DOUBLE)
           > CAST(b.s1 AS DOUBLE) / CAST(b.cnt AS DOUBLE)
             + 3.0 * SQRT((CAST(b.s2 AS DOUBLE)
                           - CAST(b.s1 AS DOUBLE) * CAST(b.s1 AS DOUBLE)
                             / CAST(b.cnt AS DOUBLE))
                          / (CAST(b.cnt AS DOUBLE) - 1.0))
                   * SQRT(0.25 / (2.0 - 0.25))
           OR CAST(t.num AS DOUBLE) / CAST(t.den AS DOUBLE)
           < CAST(b.s1 AS DOUBLE) / CAST(b.cnt AS DOUBLE)
             - 3.0 * SQRT((CAST(b.s2 AS DOUBLE)
                           - CAST(b.s1 AS DOUBLE) * CAST(b.s1 AS DOUBLE)
                             / CAST(b.cnt AS DOUBLE))
                          / (CAST(b.cnt AS DOUBLE) - 1.0))
                   * SQRT(0.25 / (2.0 - 0.25)) AS out_of_control
    FROM terms t CROSS JOIN base b
    """,
)
def events_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over hourly event volumes with asymptotic
    +/-3-sigma limits — the drift-sensitive screen that catches slow
    volume shifts a pointwise fence misses. The EWMA (alpha=0.25,
    16-term horizon) is the round-10 prototype-validated integer-weight
    identity: weights round(0.75^k * 2^20) are import-time literals, the
    lag sum is exact BIGINT with present-mass renormalization; sigma
    comes from exact integer global moments of the hourly counts and
    the control-limit factor sqrt(alpha/(2-alpha)) is a fixed IEEE
    chain (sqrt of a literal ratio). One reduction to the bounded
    hourly series, one window pass, one broadcast of the 1-row
    baseline."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .agg(F.count("*").cast("bigint").alias("n"))
        # emit-NTZ-at-source contract (VERDICT r9 ask #8): under the
        # session UTC pin the cast is a pure reinterpretation
        .select(
            F.col("hour_start").cast("timestamp_ntz").alias("hour_start"),
            "n",
        )
    )
    w = Window.orderBy("hour_start")
    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for k, wt in enumerate(_EWMA_VOL_W):
        lagged = F.col("n") if k == 0 else F.lag("n", k).over(w)
        num = num + F.coalesce(lagged * wt, F.lit(0))
        den = den + F.when(lagged.isNotNull(), wt).otherwise(0)
    terms = hourly.select(
        "hour_start", "n", num.alias("num"), den.alias("den")
    )
    nn = F.col("n")
    base = hourly.agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum(nn).cast("bigint").alias("s1"),
        F.sum(nn * nn).cast("bigint").alias("s2"),
    )
    j = terms.crossJoin(F.broadcast(base))
    cntd = F.col("cnt").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    center = s1d / cntd
    sigma = F.sqrt((s2d - s1d * s1d / cntd) / (cntd - 1.0))
    factor = F.sqrt(F.lit(0.25) / (2.0 - 0.25))
    ewma = F.col("num").cast("double") / F.col("den").cast("double")
    ucl = center + 3.0 * sigma * factor
    lcl = center - 3.0 * sigma * factor
    return j.select(
        "hour_start",
        "n",
        ewma.alias("ewma"),
        ucl.alias("ucl"),
        lcl.alias("lcl"),
        ((ewma > ucl) | (ewma < lcl)).alias("out_of_control"),
    )


@_q(
    "events_session_depth_quantiles",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE THEN 0
                  ELSE 1 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM flagged
    ), depth AS (
      SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           MEDIAN(n_events) AS p50_depth,
           quantile_cont(n_events, 0.9) AS p90_depth,
           quantile_cont(n_events, 0.99) AS p99_depth,
           CAST(MAX(n_events) AS BIGINT) AS max_depth
    FROM depth
    """,
)
def events_session_depth_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth distribution: exact p50/p90/p99/max of events per
    session over the graded 30-minute-gap sessionization (machinery
    reused verbatim). The quantiles run on the |sessions|-bounded
    reduced table via the proven exact-interpolation parity
    (median/percentile vs MEDIAN/quantile_cont on exact integers). One
    user-partitioned window pass, one reduction, one global aggregate."""
    df = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_ok = ts_us - F.lag(ts_us).over(w) <= 1800 * 1_000_000
    flagged = df.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_ok, 0).otherwise(1).alias("new_session"),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(cum)
    )
    depth = sessions.groupBy("user_id", "session_id").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    return depth.agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.median("n_events").alias("p50_depth"),
        F.percentile("n_events", 0.9).alias("p90_depth"),
        F.percentile("n_events", 0.99).alias("p99_depth"),
        F.max("n_events").cast("bigint").alias("max_depth"),
    )


@_q(
    "events_type_cooccurrence_lift",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE THEN 0
                  ELSE 1 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_type,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM flagged
    ), st AS MATERIALIZED (
      SELECT DISTINCT user_id, session_id, event_type FROM sess
    ), tot AS (
      SELECT CAST(COUNT(DISTINCT (user_id, session_id)) AS BIGINT) AS s
      FROM st
    ), per_type AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
      FROM st GROUP BY event_type
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM st a
      JOIN st b ON b.user_id = a.user_id
                AND b.session_id = a.session_id
                AND b.event_type > a.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_ab, ta.n_t AS n_a, tb.n_t AS n_b,
           (CAST(p.n_ab AS DOUBLE) * CAST(t.s AS DOUBLE))
           / (CAST(ta.n_t AS DOUBLE) * CAST(tb.n_t AS DOUBLE)) AS lift
    FROM pairs p
    JOIN per_type ta ON ta.event_type = p.type_a
    JOIN per_type tb ON tb.event_type = p.type_b
    CROSS JOIN tot t
    """,
)
def events_type_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session event-type co-occurrence lift — the events twin of
    text_collocation_lift: for each unordered type pair, how much more
    often they share a session than independence predicts
    (lift = P(ab) / (P(a) P(b)) cleared to the count lattice:
    n_ab * S / (n_a * n_b), one fixed IEEE chain). Sessions come from
    the graded 30-minute-gap machinery; the pair join runs on the
    REDUCED distinct (session, type) table whose width is bounded by
    the 5-type vocabulary, so candidates are ~|sessions| x 10 at worst.
    The distinct table is materialized once and shared by the totals,
    margins, and pair branches (Catalyst has no cross-branch CSE; the
    DuckDB side mirrors with a MATERIALIZED CTE)."""
    df = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_ok = ts_us - F.lag(ts_us).over(w) <= 1800 * 1_000_000
    flagged = df.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(gap_ok, 0).otherwise(1).alias("new_session"),
    )
    sess = flagged.withColumn("session_id", F.sum("new_session").over(cum))
    st = materialize_reduced(
        sess.select("user_id", "session_id", "event_type").distinct()
    )
    tot = st.select("user_id", "session_id").distinct().agg(
        F.count("*").cast("bigint").alias("s")
    )
    per_type = st.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_t")
    )
    a = st.alias("a")
    b = st.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.session_id") == F.col("a.session_id"))
            & (F.col("b.event_type") > F.col("a.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    ta = per_type.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a")
    )
    tb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                (F.col("n_ab").cast("double") * F.col("s").cast("double"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
    )


@_q(
    "events_weekday_effect",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    per_dow AS (
      SELECT CAST(isodow(ts) AS BIGINT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM ev GROUP BY 1
    ), tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS t FROM per_dow),
    parts AS (
      SELECT dow, n_events,
             (n_events * 10000) // (SELECT t FROM tot) AS floor_bps,
             (n_events * 10000) % (SELECT t FROM tot) AS remainder
      FROM per_dow
    ), short AS (
      SELECT 10000 - CAST(SUM(floor_bps) AS BIGINT) AS k FROM parts
    )
    SELECT dow, n_events,
           CAST(floor_bps AS BIGINT) AS floor_bps,
           CAST(floor_bps + CASE WHEN rk <= (SELECT k FROM short)
                                 THEN 1 ELSE 0 END AS BIGINT)
             AS allocated_bps,
           CAST(n_events * 7 AS DOUBLE) / (SELECT CAST(t AS DOUBLE) FROM tot)
             AS weekday_index
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY remainder DESC, dow) AS rk
      FROM parts
    )
    """,
)
def events_weekday_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week multiplicative traffic index (1.0 = a flat week) plus
    an exact basis-point decomposition via largest-remainder
    normalization — the seasonality report whose shares are GUARANTEED
    to sum to 10000 (independent rounding drifts; Hamilton apportionment
    doesn't — machinery reused from agg_largest_remainder_percent with
    a deterministic dow tie-break). ISO day-of-week on both engines
    (isodow vs weekday+1, Monday=1). One map-side-combinable reduction
    to 7 rows; everything after is exact integer arithmetic plus one
    index division."""
    per_dow = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            (F.weekday(F.col("ts")) + 1).cast("bigint").alias("dow")
        )
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )
    tot = per_dow.agg(F.sum("n_events").cast("bigint").alias("t"))
    parts = per_dow.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n_events",
        "t",
        F.expr("(n_events * 10000) div t").alias("floor_bps"),
        F.expr("(n_events * 10000) % t").alias("remainder"),
    )
    short = parts.agg(
        (F.lit(10000) - F.sum("floor_bps")).cast("bigint").alias("k")
    )
    w = Window.orderBy(F.col("remainder").desc(), "dow")
    ranked = parts.withColumn("rk", F.row_number().over(w)).crossJoin(
        F.broadcast(short)
    )
    return ranked.select(
        "dow",
        "n_events",
        F.col("floor_bps").cast("bigint").alias("floor_bps"),
        (
            F.col("floor_bps")
            + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("allocated_bps"),
        (
            (F.col("n_events") * 7).cast("double") / F.col("t").cast("double")
        ).alias("weekday_index"),
    )


# --- round 12: funnels, transition structure, seasonality grids -----------


@_q(
    "events_funnel_strict_order",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t1,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t2,
             MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t3,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS t4
      FROM ev GROUP BY user_id
    ), depth AS (
      SELECT CASE
               WHEN t1 IS NULL THEN 0
               WHEN t2 IS NULL OR NOT (t2 > t1
                    AND t2 <= t1 + 604800000000) THEN 1
               WHEN t3 IS NULL OR NOT (t3 > t2
                    AND t3 <= t1 + 604800000000) THEN 2
               WHEN t4 IS NULL OR NOT (t4 > t3
                    AND t4 <= t1 + 604800000000) THEN 3
               ELSE 4
             END AS step_depth
      FROM firsts
    )
    SELECT step_depth, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM depth GROUP BY step_depth
    """,
)
def events_funnel_strict_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order signup -> view -> click -> purchase funnel within a
    7-day window of the first signup: a user's funnel depth is the
    deepest PREFIX whose per-step FIRST times are strictly increasing
    and inside the window — computed from one conditional-MIN groupBy
    (4 firsts per user) plus pairwise integer comparisons at epoch
    micros, NO windows at all (the ordered-funnel entries use windowed
    sequences; this is the strict set-based variant that cannot credit
    out-of-order step completions). Depth 0 = never signed up. One
    shuffle on user_id, then a 5-row rollup."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    firsts = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            *[
                F.min(F.when(F.col("event_type") == t, us)).alias(f"t{i}")
                for i, t in enumerate(
                    ["signup", "view", "click", "purchase"], start=1
                )
            ]
        )
    )
    week = 604800000000
    t1, t2, t3, t4 = (F.col(f"t{i}") for i in range(1, 5))
    depth = firsts.select(
        F.when(t1.isNull(), 0)
        .when(
            t2.isNull() | ~((t2 > t1) & (t2 <= t1 + week)), 1
        )
        .when(
            t3.isNull() | ~((t3 > t2) & (t3 <= t1 + week)), 2
        )
        .when(
            t4.isNull() | ~((t4 > t3) & (t4 <= t1 + week)), 3
        )
        .otherwise(4)
        .alias("step_depth")
    )
    return depth.groupBy("step_depth").agg(
        F.count("*").cast("bigint").alias("n_users")
    )


@_q(
    "events_type_transition_gini",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS next_type
      FROM ev
    ), pairs AS (
      SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    )
    SELECT event_type,
           CAST(SUM(cnt) AS BIGINT) AS n_transitions,
           CAST(SUM(cnt) * SUM(cnt) - SUM(cnt * cnt) AS DOUBLE)
             / CAST(SUM(cnt) * SUM(cnt) AS DOUBLE) AS next_gini
    FROM pairs GROUP BY event_type
    """,
)
def events_type_transition_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Gini impurity of the NEXT event type: how predictable is
    what follows each event class (the log-free stand-in for transition
    entropy; the graded predictability entry is per USER — this is the
    per-type structural view). Transitions from lead() over the
    deterministic (ts, event_id) per-user order; impurity
    1 - sum(p_i^2) is cleared to the exact n^2 integer lattice
    ((n^2 - sum n_i^2)/n^2, one division, denominator structurally
    positive inside each group). One shuffle for the lead window, one
    bounded k x k rollup."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
    )
    pairs = seq.groupBy("event_type", "next_type").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    n = F.sum("cnt")
    ssq = F.sum(F.col("cnt") * F.col("cnt"))
    return pairs.groupBy("event_type").agg(
        n.cast("bigint").alias("n_transitions"),
        ((n * n - ssq).cast("double") / (n * n).cast("double")).alias(
            "next_gini"
        ),
    )


@_q(
    "events_hourly_type_correlation",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    hourly AS (
      SELECT date_trunc('hour', ts) AS hr,
             CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                  AS BIGINT) AS x,
             CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                  AS BIGINT) AS y
      FROM ev GROUP BY 1
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM hourly
    )
    SELECT n, sx, sy,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
           THEN CAST(n * sxy - sx * sy AS DOUBLE)
                / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                       * CAST(n * syy - sy * sy AS DOUBLE))
           END AS pearson_r
    FROM s
    """,
)
def events_hourly_type_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pearson correlation between the click and view hourly count
    series: do the two engagement types co-move at the hour grain? The
    grid is hours with >= 1 event of ANY type (both series zero-filled
    on it by conditional counts from ONE pass — no join); the
    correlation uses the centering-free integer identity
    (n*Sxy - Sx*Sy)/sqrt((n*Sxx - Sx^2)(n*Syy - Sy^2)) — every moment
    an exact BIGINT, ONE float chain at the end, NULL-guarded for
    zero-variance series (the ANSI-totality rule). Scale: the hourly
    grid bounds everything; moments are map-side combinable."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1))
            .cast("bigint")
            .alias("x"),
            F.count(F.when(F.col("event_type") == "view", 1))
            .cast("bigint")
            .alias("y"),
        )
    )
    s = hourly.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "n",
        "sx",
        "sy",
        F.when(
            (vx > 0) & (vy > 0),
            num.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double")),
        ).alias("pearson_r"),
    )


@_q(
    "events_cohort_week_retention_triangle",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    uw AS (
      SELECT DISTINCT user_id,
             (CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 3) // 7
               AS wk
      FROM ev
    ), cohort AS (
      SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY user_id
    ), cells AS (
      SELECT c.cohort_wk, u.wk - c.cohort_wk AS week_age,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM uw u JOIN cohort c ON u.user_id = c.user_id
      GROUP BY 1, 2
    ), sized AS (
      SELECT cohort_wk, CAST(n_users AS BIGINT) AS cohort_size
      FROM cells WHERE week_age = 0
    )
    SELECT DATE '1970-01-01'
             + CAST(7 * c.cohort_wk - 3 AS INTEGER) AS cohort_week_start,
           c.week_age, c.n_users, s.cohort_size,
           CAST(c.n_users AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
             AS retention
    FROM cells c JOIN sized s ON c.cohort_wk = s.cohort_wk
    """,
)
def events_cohort_week_retention_triangle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by the Monday-
    start week of their FIRST event, tracked by distinct-user activity
    at each week age (the week grain is the round-11 stickiness lesson
    — the single-month fixture yields a 5x5 triangle instead of a 1x1
    month cell). Weeks are the PORTABLE epoch formula (epoch_day + 3)
    div 7 (Monday = week start) — engine week functions disagree on
    locale conventions. Retention divides by the age-0 cell, which is
    structurally the cohort size (a user's first-event week is always
    active), so the division is total. Two shuffles: distinct
    (user, week), then the bounded triangle rollup."""
    wk = (
        (
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            ).cast("bigint")
            + 3
        )
        / 7
    ).cast("bigint")
    uw = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(
                "(CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                " AS BIGINT) + 3) div 7"
            ).alias("wk"),
        )
        .distinct()
    )
    uw = materialize_reduced(uw)
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    cells = (
        uw.join(cohort, "user_id")
        .groupBy(
            "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_age")
        )
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )
    sized = cells.filter(F.col("week_age") == 0).select(
        "cohort_wk", F.col("n_users").cast("bigint").alias("cohort_size")
    )
    return cells.join(sized, "cohort_wk").select(
        F.date_add(
            F.lit("1970-01-01").cast("date"),
            (7 * F.col("cohort_wk") - 3).cast("int"),
        ).alias("cohort_week_start"),
        "week_age",
        "n_users",
        "cohort_size",
        (
            F.col("n_users").cast("double")
            / F.col("cohort_size").cast("double")
        ).alias("retention"),
    )


@_q(
    "events_peak_concentration",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    blocks AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) // 4 AS blk,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ev GROUP BY 1, 2
    ), days AS (
      SELECT day,
             CAST(SUM(cnt) AS BIGINT) AS total_events,
             CAST(MAX(cnt * 8 + (7 - blk)) AS BIGINT) AS key
      FROM blocks GROUP BY day
    )
    SELECT day,
           CAST(7 - key % 8 AS BIGINT) AS peak_block,
           CAST(key // 8 AS BIGINT) AS peak_events,
           total_events,
           CAST(key // 8 AS DOUBLE) / CAST(total_events AS DOUBLE)
             AS peak_share
    FROM days
    """,
)
def events_peak_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of each day's event volume inside its peak 4-hour block
    (the 6 fixed blocks hour div 4): traffic-concentration screening
    for batch-window placement. The argmax block comes from ONE packed
    integer key max(cnt*8 + (7 - blk)) — max count, ties broken toward
    the SMALLEST block id — decoded with pure integer arithmetic, so
    both engines resolve ties identically without arg_max semantics.
    The share divides by the day total, structurally positive inside
    each group. One bounded (day x 6) rollup; exact integers up to the
    single share division."""
    blocks = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("ts").cast("date").alias("day"),
            F.expr("CAST(hour(ts) AS BIGINT) div 4").alias("blk"),
        )
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    days = blocks.groupBy("day").agg(
        F.sum("cnt").cast("bigint").alias("total_events"),
        F.max(F.col("cnt") * 8 + (7 - F.col("blk")))
        .cast("bigint")
        .alias("key"),
    )
    peak_cnt = F.expr("key div 8").cast("bigint")
    return days.select(
        "day",
        (7 - F.col("key") % 8).cast("bigint").alias("peak_block"),
        peak_cnt.alias("peak_events"),
        "total_events",
        (
            peak_cnt.cast("double") / F.col("total_events").cast("double")
        ).alias("peak_share"),
    )


@_q(
    "events_value_by_depth",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM flagged
    ), ordinals AS (
      SELECT value,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id, session_id
               ORDER BY ts, event_id) AS BIGINT) AS depth
      FROM sessions
    )
    SELECT depth,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) / COUNT(value)
             AS mean_value
    FROM ordinals GROUP BY depth
    """,
)
def events_value_by_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean event value by within-session ordinal — the engagement-decay
    curve (does the 5th event of a session carry less value than the
    1st?). Reuses the graded 30-minute gap sessionization verbatim
    (same (ts, event_id) deterministic order, same micros-precision gap
    comparison), adds one row_number per session, and aggregates value
    through the exact-DECIMAL-sum-then-one-division contract
    (helpers.davg) so partition-order float accumulation cannot
    diverge. Depth cardinality is bounded by the longest session. Two
    windows + the rollup, all sharing the user_id shuffle."""
    df = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_ok = ts_us - F.lag(ts_us).over(w) <= 1800 * 1_000_000
    flagged = df.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(gap_ok, 0).otherwise(1).alias("new_session"),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(cum)
    )
    sw = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    ordinals = sessions.select(
        "value", F.row_number().over(sw).cast("bigint").alias("depth")
    )
    return ordinals.groupBy("depth").agg(
        F.count("*").cast("bigint").alias("n_events"),
        (
            F.sum(F.col("value").cast(DEC)).cast("double")
            / F.count("value")
        ).alias("mean_value"),
    )


@_q(
    "events_new_vs_returning",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM ev
    ), firsts AS (
      SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id
    )
    SELECT u.day,
           CAST(COUNT(*) AS BIGINT) AS dau,
           CAST(COUNT(CASE WHEN f.first_day = u.day THEN 1 END) AS BIGINT)
             AS new_users,
           CAST(COUNT(CASE WHEN f.first_day < u.day THEN 1 END) AS BIGINT)
             AS returning_users,
           CAST(COUNT(CASE WHEN f.first_day = u.day THEN 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS new_share
    FROM ud u JOIN firsts f ON f.user_id = u.user_id
    GROUP BY u.day
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into first-ever-day (new) vs returning —
    the growth-accounting decomposition every activation dashboard
    leads with. One distinct (user, day) pass, one min-day reduction,
    one join back; the share divides by the per-day DAU, structurally
    positive inside each group (a day only exists with >= 1 active
    user). Exact integers throughout. Scale: the distinct pass is the
    same shuffle the graded DAU entry pays; the firsts join is
    |users|-bounded."""
    ud = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    ud = materialize_reduced(ud)
    firsts = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = ud.join(firsts, "user_id")
    new = F.count(F.when(F.col("first_day") == F.col("day"), 1))
    return j.groupBy("day").agg(
        F.count("*").cast("bigint").alias("dau"),
        new.cast("bigint").alias("new_users"),
        F.count(F.when(F.col("first_day") < F.col("day"), 1))
        .cast("bigint")
        .alias("returning_users"),
        (new.cast("double") / F.count("*").cast("double")).alias(
            "new_share"
        ),
    )


@_q(
    "events_weekend_lift",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    keyed AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CASE WHEN (CAST(CAST(ts AS DATE) - DATE '1970-01-01'
                        AS BIGINT) + 3) % 7 >= 5
                  THEN 1 ELSE 0 END AS is_weekend
      FROM ev
    ), per_type AS (
      SELECT event_type,
             CAST(SUM(is_weekend) AS BIGINT) AS we_events,
             CAST(COUNT(*) - SUM(is_weekend) AS BIGINT) AS wd_events,
             CAST(COUNT(DISTINCT CASE WHEN is_weekend = 1 THEN day END)
                  AS BIGINT) AS we_days,
             CAST(COUNT(DISTINCT CASE WHEN is_weekend = 0 THEN day END)
                  AS BIGINT) AS wd_days
      FROM keyed GROUP BY event_type
    )
    SELECT event_type, we_events, wd_events, we_days, wd_days,
           CASE WHEN we_days > 0 AND wd_days > 0 AND wd_events > 0 THEN
             (CAST(we_events AS DOUBLE) / CAST(we_days AS DOUBLE))
             / (CAST(wd_events AS DOUBLE) / CAST(wd_days AS DOUBLE))
           END AS weekend_lift
    FROM per_type
    """,
)
def events_weekend_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend-vs-weekday volume lift per event type: daily-rate ratio
    (events per active weekend day over events per active weekday),
    the seasonality screen that separates leisure-shaped types from
    work-shaped ones. Weekend = portable epoch-day formula
    ((epoch_day + 3) mod 7 >= 5, i.e. Saturday/Sunday with Monday = 0
    — the same dow contract as the weekday-decomposition entry).
    Active-day normalization uses DISTINCT day counts per class, so a
    fixture span that clips a weekend is handled exactly; the ratio is
    one fixed chain, NULL-guarded for absent classes. One pass + one
    bounded per-type rollup."""
    dow = (
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("bigint")
        + 3
    ) % 7
    keyed = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.when(dow >= 5, 1).otherwise(0).alias("is_weekend"),
    )
    per_type = keyed.groupBy("event_type").agg(
        F.sum("is_weekend").cast("bigint").alias("we_events"),
        (F.count("*") - F.sum("is_weekend"))
        .cast("bigint")
        .alias("wd_events"),
        F.countDistinct(
            F.when(F.col("is_weekend") == 1, F.col("day"))
        )
        .cast("bigint")
        .alias("we_days"),
        F.countDistinct(
            F.when(F.col("is_weekend") == 0, F.col("day"))
        )
        .cast("bigint")
        .alias("wd_days"),
    )
    we_rate = F.col("we_events").cast("double") / F.col("we_days").cast(
        "double"
    )
    wd_rate = F.col("wd_events").cast("double") / F.col("wd_days").cast(
        "double"
    )
    return per_type.select(
        "event_type",
        "we_events",
        "wd_events",
        "we_days",
        "wd_days",
        F.when(
            (F.col("we_days") > 0)
            & (F.col("wd_days") > 0)
            & (F.col("wd_events") > 0),
            we_rate / wd_rate,
        ).alias("weekend_lift"),
    )


@_q(
    "events_time_to_first_purchase",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
               AS t_signup,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS t_purchase
      FROM ev GROUP BY user_id
    ), lat AS (
      SELECT (t_purchase - t_signup) // 3600000000 AS hour_bucket
      FROM firsts
      WHERE t_signup IS NOT NULL AND t_purchase IS NOT NULL
        AND t_purchase > t_signup
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_converted FROM lat)
    SELECT CAST(l.hour_bucket AS BIGINT) AS hour_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS DOUBLE) / CAST(t.n_converted AS DOUBLE)
             AS share
    FROM lat l CROSS JOIN tot t
    GROUP BY l.hour_bucket, t.n_converted
    """,
)
def events_time_to_first_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Signup-to-first-purchase latency distribution at hour grain — the
    activation-speed curve: each converting user (first purchase
    STRICTLY after first signup, both via conditional MINs — the
    strict-funnel convention) contributes its latency's hour bucket
    (exact integer epoch-micros arithmetic, nonnegative so the integer
    division is floor==trunc in both engines). Shares divide by the
    converted-user total, structurally positive whenever rows exist.
    One user_id shuffle + one bounded histogram rollup."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    firsts = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", us)
            ).alias("t_signup"),
            F.min(
                F.when(F.col("event_type") == "purchase", us)
            ).alias("t_purchase"),
        )
    )
    lat = firsts.filter(
        F.col("t_signup").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") > F.col("t_signup"))
    ).select(
        F.expr("(t_purchase - t_signup) div 3600000000").alias(
            "hour_bucket"
        )
    )
    tot = lat.agg(F.count("*").cast("bigint").alias("n_converted"))
    return (
        lat.crossJoin(F.broadcast(tot))
        .groupBy("hour_bucket", "n_converted")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .select(
            F.col("hour_bucket").cast("bigint").alias("hour_bucket"),
            "n_users",
            (
                F.col("n_users").cast("double")
                / F.col("n_converted").cast("double")
            ).alias("share"),
        )
    )


# --- round 13: burstiness, churn states, gap audit, value concentration ---


@_q(
    "events_burstiness_index",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    gaps AS (
      SELECT user_id,
             (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) // 1000000 AS gap_s
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), per AS (
      SELECT user_id,
             CAST(COUNT(gap_s) AS BIGINT) AS n,
             CAST(SUM(gap_s) AS BIGINT) AS s1,
             CAST(SUM(gap_s * gap_s) AS BIGINT) AS s2
      FROM gaps GROUP BY user_id
    ), b AS (
      SELECT CASE WHEN SQRT(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                       + CAST(s1 AS DOUBLE) > 0.0
             THEN (SQRT(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                   - CAST(s1 AS DOUBLE))
                  / (SQRT(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                     + CAST(s1 AS DOUBLE))
             END AS burst
      FROM per WHERE n >= 1
    )
    SELECT CAST(FLOOR(burst * 10.0) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM b WHERE burst IS NOT NULL
    GROUP BY 1
    """,
)
def events_burstiness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness B = (sigma - mu)/(sigma + mu) of each
    user's inter-arrival seconds, reported as a bounded 0.1-bin user
    histogram (B in [-1, 1] -> ~21 bins): B ~ -1 is a regular
    (bot-like) cadence, B ~ 0 Poisson, B > 0 bursty-human. Gaps are
    exact integer seconds (micros div 1e6 lattice), per-user moments
    exact BIGINT, and B is rewritten with num/den scaled by n so the
    only float work is the shared n*s2 - s1^2 cast-per-factor chain +
    one sqrt (identical IEEE text both engines; sigma = sqrt(n*s2 -
    s1^2)/n, mu = s1/n). NULL-guarded: single-event users contribute
    no gap; all-zero-gap users (sigma = mu = 0) are excluded by the
    den > 0 guard. One user shuffle, bounded output."""
    ev = load_table(spark, sf_dir, "events")
    gaps = ev.select(
        "user_id",
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP))"
            " - lag(unix_micros(CAST(ts AS TIMESTAMP)))"
            " OVER (PARTITION BY user_id ORDER BY ts, event_id))"
            " div 1000000"
        ).alias("gap_s"),
    )
    per = gaps.groupBy("user_id").agg(
        F.count("gap_s").cast("bigint").alias("n"),
        F.sum("gap_s").cast("bigint").alias("s1"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("bigint").alias("s2"),
    )

    def d(c):
        return F.col(c).cast("double")

    sig_n = F.sqrt(d("n") * d("s2") - d("s1") * d("s1"))
    b = per.filter(F.col("n") >= 1).select(
        F.when(
            sig_n + d("s1") > 0.0, (sig_n - d("s1")) / (sig_n + d("s1"))
        ).alias("burst")
    )
    return (
        b.filter(F.col("burst").isNotNull())
        .groupBy(F.floor(F.col("burst") * 10.0).cast("bigint").alias("bin"))
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


@_q(
    "events_churn_flags",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM ev
    ), fd AS (
      SELECT user_id, MIN(day) AS first_day FROM du GROUP BY user_id
    ), spine AS (SELECT DISTINCT day FROM du),
    per AS (
      SELECT s.day, d.user_id,
             MAX(CASE WHEN d.day >= s.day - 6 THEN 1 ELSE 0 END) AS cur,
             MAX(CASE WHEN d.day <= s.day - 7 THEN 1 ELSE 0 END) AS prev
      FROM spine s
      JOIN du d ON d.day BETWEEN s.day - 13 AND s.day
      GROUP BY s.day, d.user_id
    )
    SELECT p.day,
           CAST(COUNT(CASE WHEN cur = 1 AND prev = 0
                AND f.first_day > p.day - 14 THEN 1 END) AS BIGINT)
             AS n_new,
           CAST(COUNT(CASE WHEN cur = 1 AND prev = 1 THEN 1 END) AS BIGINT)
             AS n_retained,
           CAST(COUNT(CASE WHEN cur = 1 AND prev = 0
                AND f.first_day <= p.day - 14 THEN 1 END) AS BIGINT)
             AS n_resurrected,
           CAST(COUNT(CASE WHEN cur = 0 AND prev = 1 THEN 1 END) AS BIGINT)
             AS n_churned
    FROM per p JOIN fd f ON f.user_id = p.user_id
    GROUP BY p.day
    """,
)
def events_churn_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day user lifecycle states from two adjacent trailing-7-day
    activity windows (the rolling-WAU machinery INVERTED): as of day d,
    a user active in (d-6..d] is RETAINED if also active in
    (d-13..d-7], NEW if not and their first-ever day is inside the
    14-day horizon, RESURRECTED if not but they were first seen before
    it; a user active in (d-13..d-7] but silent in (d-6..d] is CHURNED
    that day. The bounded range join fans each (day, user) activity
    pair into <= 14 windows (window width, never corpus size — the
    events_rolling_wau scale argument), the per-user window flags are
    conditional MAXes, and the first-day lookup is one join onto the
    per-user min-day table. Exact counts, no division. Output:
    |days| rows."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("day"),
        "user_id",
    ).distinct()
    du = materialize_reduced(du)
    fd = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
    spine = du.select("day").distinct()
    s, d = spine.alias("s"), du.alias("d")
    per = (
        s.join(
            d,
            (F.col("d.day") >= F.date_sub(F.col("s.day"), 13))
            & (F.col("d.day") <= F.col("s.day")),
        )
        .groupBy(F.col("s.day").alias("day"), F.col("d.user_id").alias("user_id"))
        .agg(
            F.max(
                F.when(
                    F.col("d.day") >= F.date_sub(F.col("s.day"), 6), 1
                ).otherwise(0)
            ).alias("cur"),
            F.max(
                F.when(
                    F.col("d.day") <= F.date_sub(F.col("s.day"), 7), 1
                ).otherwise(0)
            ).alias("prev"),
        )
    )
    j = per.join(fd, "user_id")
    horizon = F.date_sub(F.col("day"), 14)
    return j.groupBy("day").agg(
        F.count(
            F.when(
                (F.col("cur") == 1)
                & (F.col("prev") == 0)
                & (F.col("first_day") > horizon),
                1,
            )
        )
        .cast("bigint")
        .alias("n_new"),
        F.count(F.when((F.col("cur") == 1) & (F.col("prev") == 1), 1))
        .cast("bigint")
        .alias("n_retained"),
        F.count(
            F.when(
                (F.col("cur") == 1)
                & (F.col("prev") == 0)
                & (F.col("first_day") <= horizon),
                1,
            )
        )
        .cast("bigint")
        .alias("n_resurrected"),
        F.count(F.when((F.col("cur") == 0) & (F.col("prev") == 1), 1))
        .cast("bigint")
        .alias("n_churned"),
    )


@_q(
    "events_session_gap_distribution",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    gaps AS (
      SELECT (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) // 1000000 AS gap_s
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT LEAST(gap_s // 60, 60) AS bucket_min,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(COUNT(CASE WHEN gap_s <= 1800 THEN 1 END) AS BIGINT)
             AS n_within_session
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY 1
    """,
)
def events_session_gap_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Minute-grain histogram of per-user inter-event gaps around the
    30-minute sessionization threshold — the empirical basis for the
    gap choice in events_sessionization: a clean bimodal histogram
    (mass well below 30 min, mass well above, a thin valley at the
    threshold) validates it; mass piled AT the threshold says the
    cutoff is splitting real sessions. Gaps are exact integer seconds
    (micros div 1e6), buckets integer-div minutes capped at 60
    (61-row bounded output), and n_within_session counts the <= 1800 s
    side per bucket so the threshold column is explicit. One user
    shuffle, no division."""
    gaps = load_table(spark, sf_dir, "events").select(
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP))"
            " - lag(unix_micros(CAST(ts AS TIMESTAMP)))"
            " OVER (PARTITION BY user_id ORDER BY ts, event_id))"
            " div 1000000"
        ).alias("gap_s")
    )
    return (
        gaps.filter(F.col("gap_s").isNotNull())
        .groupBy(
            F.least(F.expr("gap_s div 60"), F.lit(60)).alias("bucket_min")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_gaps"),
            F.count(F.when(F.col("gap_s") <= 1800, 1))
            .cast("bigint")
            .alias("n_within_session"),
        )
    )


@_q(
    "events_value_concentration_by_type",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    per AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM ev GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, cents, c,
             2 * COALESCE(SUM(c) OVER (PARTITION BY event_type
               ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS dr
      FROM per
    ), s AS (
      SELECT event_type,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(cents * c * dr) AS BIGINT) AS xcdr,
             CAST(SUM(cents * c) AS BIGINT) AS w
      FROM cum GROUP BY event_type
    )
    SELECT event_type, n, w AS sum_cents,
           CASE WHEN n >= 2 AND w > 0 THEN
             CAST(xcdr - (n + 1) * w AS DOUBLE)
             / CAST(n AS DOUBLE) / CAST(w AS DOUBLE)
           END AS gini
    FROM s
    """,
)
def events_value_concentration_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-type Gini concentration of event value — the value-skew
    screen (is 'purchase' revenue spread across events or carried by a
    few whales?) — via the doubled-midrank identity G = (sum(x c dr) -
    (n+1) sum(x c)) / (n sum(x c)) on the bounded per-type value-cents
    lattice, PARTITIONED per type (the agg_gini_mean_difference
    machinery with a partition key; ties exact by the shared
    tied-values-share-x argument). Exact BIGINT numerators, two casts
    and two divisions at the end, NULL-guarded n < 2 and w <= 0
    (value is structurally positive on the fixture but the guard is
    total). Scale: sum(x c dr) ~ n_type^2 * mean(x) — route through
    DECIMAL(38,0) beyond ~1e9 rows/type (same documented budget as the
    GMD entry). One shuffle to the value lattice, 5-row output."""
    per = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per.select(
        "event_type",
        "cents",
        "c",
        (
            2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1
        ).alias("dr"),
    )
    s = cum.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("cents") * F.col("c") * F.col("dr"))
        .cast("bigint")
        .alias("xcdr"),
        F.sum(F.col("cents") * F.col("c")).cast("bigint").alias("w"),
    )
    t = F.col("xcdr") - (F.col("n") + 1) * F.col("w")
    return s.select(
        "event_type",
        "n",
        F.col("w").alias("sum_cents"),
        F.when(
            (F.col("n") >= 2) & (F.col("w") > 0),
            t.cast("double") / F.col("n").cast("double")
            / F.col("w").cast("double"),
        ).alias("gini"),
    )


# --- round 14 pre-builds (wave 1): dispersion, concentration, cadence ------


@_q(
    "events_fano_hourly_by_type",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    span AS (
      SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS h0,
             CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS h1
      FROM ev
    ), spine AS (
      SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_start,
             t.event_type
      FROM span
      CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
    ), cnt AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
             event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM ev GROUP BY 1, 2
    ), filled AS (
      SELECT s.event_type, COALESCE(cnt.c, 0) AS c
      FROM spine s
      LEFT JOIN cnt ON cnt.hour_start = s.hour_start
                   AND cnt.event_type = s.event_type
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM filled GROUP BY event_type
    )
    SELECT event_type, n_hours, s1 AS n_events,
           CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE) AS mean_hourly,
           CASE WHEN s1 > 0 THEN
             (CAST(n_hours AS DOUBLE) * CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / (CAST(n_hours AS DOUBLE) * CAST(s1 AS DOUBLE))
           END AS fano_factor
    FROM m
    """,
)
def events_fano_hourly_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-type Fano factor of HOURLY event counts over the
    zero-filled hour spine — the dispersion screen at stream grain
    (the agg_fano_factor_daily sibling on events): absent hours are
    REAL zeros (sequence-exploded spine from the 1-row global span,
    the gap-fill machinery), because skipping them biases the variance
    down exactly when the signal is burstiest. Exact BIGINT count
    moments per type, one cast-per-factor chain, one division,
    NULL-guarded empty types. Spine cost: |hours| x |types| rows —
    bounded by the calendar, never the corpus."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias(
            "hour_start"
        ),
        "event_type",
    )
    span = ev.agg(
        F.min("hour_start").alias("h0"), F.max("hour_start").alias("h1")
    )
    types = ev.select("event_type").distinct()
    spine = (
        span.select(
            F.explode(
                F.sequence(
                    F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR")
                )
            ).alias("hour_start")
        )
        .crossJoin(F.broadcast(types))
    )
    cnt = ev.groupBy("hour_start", "event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    filled = spine.join(cnt, ["hour_start", "event_type"], "left").select(
        "event_type", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    m = filled.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_hours"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )

    def d(c):
        return F.col(c).cast("double")

    return m.select(
        "event_type",
        "n_hours",
        F.col("s1").alias("n_events"),
        (d("s1") / d("n_hours")).alias("mean_hourly"),
        F.when(
            F.col("s1") > 0,
            (d("n_hours") * d("s2") - d("s1") * d("s1"))
            / (d("n_hours") * d("s1")),
        ).alias("fano_factor"),
    )


@_q(
    "events_dow_hour_concentration",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    cell AS (
      SELECT event_type,
             (CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 3) % 7
               AS dow,
             EXTRACT(hour FROM ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM ev GROUP BY 1, 2, 3
    ), m AS (
      SELECT event_type,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             CAST(SUM(c * c) AS BIGINT) AS sc2
      FROM cell GROUP BY event_type
    )
    SELECT event_type, n AS n_events, n_cells,
           CASE WHEN n > 0 THEN
             CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
           END AS simpson_concentration,
           CASE WHEN n > 0 THEN
             1.0 - CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE)
                   / CAST(n AS DOUBLE)
           END AS simpson_diversity
    FROM m
    """,
)
def events_dow_hour_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-type Simpson concentration of the day-of-week x hour cell
    distribution (168 cells max) — the log-free schedule-concentration
    screen: a cron-driven type concentrates its mass in a few cells
    (high sum p^2), organic traffic spreads it. Portable epoch-day dow
    ((epoch_day + 3) % 7 — the events_weekend_lift convention, no
    locale/WEEKDAY ambiguity), exact BIGINT cell counts, the rational
    identity sum(c^2)/n^2 with one fixed chain (no entropy, no log).
    Bounded |types| x 168 cell table."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (
            (F.unix_date(F.col("ts").cast("timestamp").cast("date")) + 3)
            % 7
        ).alias("dow"),
        F.hour(F.col("ts").cast("timestamp")).alias("hr"),
    )
    cell = ev.groupBy("event_type", "dow", "hr").agg(
        F.count("*").cast("bigint").alias("c")
    )
    m = cell.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2"),
    )
    conc = F.col("sc2").cast("double") / F.col("n").cast("double") / F.col(
        "n"
    ).cast("double")
    return m.select(
        "event_type",
        F.col("n").alias("n_events"),
        "n_cells",
        F.when(F.col("n") > 0, conc).alias("simpson_concentration"),
        F.when(F.col("n") > 0, 1.0 - conc).alias("simpson_diversity"),
    )


@_q(
    "events_repeat_purchase_interval",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    p AS (
      SELECT user_id, ts, event_id FROM ev WHERE event_type = 'purchase'
    ), gaps AS (
      SELECT (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) // 86400000000
               AS gap_days
      FROM p
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT LEAST(gap_days, 30) AS gap_days_capped,
           CAST(COUNT(*) AS BIGINT) AS n_gaps
    FROM gaps WHERE gap_days IS NOT NULL
    GROUP BY 1
    """,
)
def events_repeat_purchase_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Repeat-purchase cadence: day-grain histogram of per-user gaps
    between CONSECUTIVE purchase events (the commerce retention
    signal the all-event gap entries dilute — purchases are ~1/5 of
    the stream). Gaps are exact integer days (micros div 86400e6),
    capped at 30 for a bounded 31-row output; single-purchase users
    contribute no gap. One user shuffle over the purchase subset
    (filter pushed to the scan), one bounded rollup."""
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
    )
    gaps = p.select(
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP))"
            " - lag(unix_micros(CAST(ts AS TIMESTAMP)))"
            " OVER (PARTITION BY user_id ORDER BY ts, event_id))"
            " div 86400000000"
        ).alias("gap_days")
    )
    return (
        gaps.filter(F.col("gap_days").isNotNull())
        .groupBy(
            F.least(F.col("gap_days"), F.lit(30)).alias("gap_days_capped")
        )
        .agg(F.count("*").cast("bigint").alias("n_gaps"))
    )


# --- round 14: session depth/value distributions, weekly mix stability ----

_SESSION_SIZES_SQL = """
      WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts)
                  FROM events),
      flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS new_session
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), sessions AS (
        SELECT user_id, value,
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS session_id
        FROM flagged
      )
"""


def _session_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared 30-min-gap session assignment (the graded
    events_sessionization machinery) carrying value through — returns
    (user_id, session_id, value) at event grain."""
    df = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_ok = ts_us - F.lag(ts_us).over(w) <= 1800 * 1_000_000
    flagged = df.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(gap_ok, 0).otherwise(1).alias("new_session"),
    )
    return flagged.select(
        "user_id",
        "value",
        F.sum("new_session").over(cum).alias("session_id"),
    )


@_q(
    "events_session_depth_decay",
    f"""
    {_SESSION_SIZES_SQL}
    , sizes AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS sz
      FROM sessions GROUP BY user_id, session_id
    ), per AS (
      SELECT sz, CAST(COUNT(*) AS BIGINT) AS c FROM sizes GROUP BY sz
    ), spine AS (
      SELECT CAST(UNNEST(generate_series(1, 21)) AS BIGINT) AS k
    ), reached AS (
      SELECT k, CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_reached
      FROM spine LEFT JOIN per ON per.sz >= spine.k
      GROUP BY k
    ), decay AS (
      SELECT k, n_reached,
             LEAD(n_reached) OVER (ORDER BY k) AS n_next
      FROM reached
    )
    SELECT k, n_reached, n_next,
           CASE WHEN n_reached > 0 THEN
             CAST(n_next AS DOUBLE) / CAST(n_reached AS DOUBLE)
           END AS p_continue
    FROM decay WHERE k <= 20
    """,
)
def events_session_depth_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth survival: P(session reaches depth k+1 | reached k)
    for k = 1..20 from the graded 30-min sessionization — the
    engagement-decay curve (ROADMAP_r14 #19). Computed on the bounded
    per-SIZE census, never the session list: n_reached(k) = sum of
    counts with size >= k via a 21-row spine joined against the
    |distinct sizes| table, survival ratio from one lead + one guarded
    division. One user shuffle (sessionization) + bounded-table
    arithmetic after."""
    sizes = (
        _session_frame(spark, sf_dir)
        .groupBy("user_id", "session_id")
        .agg(F.count("*").cast("bigint").alias("sz"))
    )
    per = sizes.groupBy("sz").agg(F.count("*").cast("bigint").alias("c"))
    spine = spark.range(1, 22).select(F.col("id").alias("k"))
    reached = (
        spine.join(F.broadcast(per), per.sz >= spine.k, "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_reached"))
    )
    decay = reached.select(
        "k",
        "n_reached",
        F.lead("n_reached").over(Window.orderBy("k")).alias("n_next"),
    )
    return decay.filter(F.col("k") <= 20).select(
        "k",
        "n_reached",
        "n_next",
        F.when(
            F.col("n_reached") > 0,
            F.col("n_next").cast("double") / F.col("n_reached").cast("double"),
        ).alias("p_continue"),
    )


@_q(
    "events_value_per_session_distribution",
    f"""
    {_SESSION_SIZES_SQL}
    , totals AS (
      SELECT CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM sessions GROUP BY user_id, session_id
    ), buckets AS (
      SELECT cents // 5000 AS bucket, cents FROM totals
    ), per AS (
      SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM buckets GROUP BY cents
    ), cum AS (
      SELECT cents, SUM(c) OVER (ORDER BY cents
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
      FROM per
    ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM per),
    med AS (
      SELECT MIN(cents) AS median_cents
      FROM cum CROSS JOIN tot WHERE cumc >= (tot.n + 1) // 2
    )
    SELECT bucket,
           CAST(bucket * 50 AS BIGINT) AS bucket_lo_dollars,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           med.median_cents
    FROM buckets CROSS JOIN med
    GROUP BY bucket, med.median_cents
    """,
)
def events_value_per_session_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-session value totals on a fixed $50 bucket ladder (integer
    cents // 5000 — width_bucket semantics without the function), plus
    the TYPE-1 median session value as a constant column — the
    session-economics histogram (ROADMAP_r14 #21). Totals are exact
    cent sums; bucketing and the median (per-value counts + one
    cumulative window over the bounded distinct-total table) never
    sort raw sessions. Both engines' integer divisions agree (cents
    >= 0 structurally: fixture values are positive; a refunds-bearing
    feed would sign-split, documented)."""
    totals = (
        _session_frame(spark, sf_dir)
        .groupBy("user_id", "session_id")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    buckets = totals.select(
        F.expr("cents div 5000").alias("bucket"), "cents"
    )
    buckets = materialize_reduced(buckets)
    per = buckets.groupBy("cents").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select("cents", F.sum("c").over(w).alias("cumc"))
    tot = per.agg(F.sum("c").cast("bigint").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cumc") >= F.expr("(n + 1) div 2"))
        .agg(F.min("cents").alias("median_cents"))
    )
    return (
        buckets.crossJoin(F.broadcast(med))
        .groupBy("bucket", "median_cents")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .select(
            "bucket",
            (F.col("bucket") * 50).cast("bigint").alias("bucket_lo_dollars"),
            "n_sessions",
            "median_cents",
        )
    )


@_q(
    "events_type_entropy_free_mix_by_week",
    """
    WITH ev AS (
      SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
               AS wk,
             event_type
      FROM events
    ), cells AS (
      SELECT wk, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM ev GROUP BY wk, event_type
    ), weekly AS (
      SELECT wk,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * c) AS BIGINT) AS c2
      FROM cells GROUP BY wk
    ), snapped AS (
      SELECT wk, n,
             CAST(round(1000000000.0
                  * (1.0 - CAST(c2 AS DOUBLE) / n / n)) AS BIGINT)
               AS simpson_fp
      FROM weekly
    ), jumps AS (
      SELECT *,
             abs(simpson_fp - LAG(simpson_fp) OVER (ORDER BY wk))
               AS jump
      FROM snapped
    ), mx AS (SELECT MAX(jump) AS max_jump FROM jumps)
    SELECT wk AS week, n,
           CAST(simpson_fp AS DOUBLE) / 1000000000.0 AS simpson_index,
           CASE WHEN jump IS NOT NULL AND jump = mx.max_jump
                THEN 1 ELSE 0 END AS largest_jump_flag
    FROM jumps CROSS JOIN mx
    """,
)
def events_type_entropy_free_mix_by_week(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly event-type mix concentration as the log-free Simpson
    index 1 - sum(c^2)/n^2, with the largest week-over-week jump
    flagged (the dq_null_rate_trend shape on mix concentration —
    an instrumentation swap shows up as a concentration cliff,
    ROADMAP_r14 #23). Exact integer cell counts and c^2 sums; the
    index is one identical IEEE chain snapped to the 1e-9 lattice
    BEFORE the jump comparison, so the flag is pure integer
    arithmetic. Week grain is ISO-Monday date_trunc in both engines.
    One (week, type) rollup + one |weeks| window."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("week", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("wk"),
        "event_type",
    )
    cells = ev.groupBy("wk", "event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    weekly = cells.groupBy("wk").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("c2"),
    )
    snapped = weekly.select(
        "wk",
        "n",
        F.round(
            1000000000.0
            * (1.0 - F.col("c2").cast("double") / F.col("n") / F.col("n")),
            0,
        )
        .cast("bigint")
        .alias("simpson_fp"),
    )
    jumps = snapped.select(
        "*",
        F.abs(
            F.col("simpson_fp")
            - F.lag("simpson_fp").over(Window.orderBy("wk"))
        ).alias("jump"),
    )
    mx = jumps.agg(F.max("jump").alias("max_jump"))
    return jumps.crossJoin(F.broadcast(mx)).select(
        F.col("wk").alias("week"),
        "n",
        (F.col("simpson_fp").cast("double") / 1000000000.0).alias(
            "simpson_index"
        ),
        F.when(
            F.col("jump").isNotNull() & (F.col("jump") == F.col("max_jump")),
            1,
        )
        .otherwise(0)
        .alias("largest_jump_flag"),
    )


# --- round 15 wave-1 pre-builds: absence streaks, lifetime Pareto share ----


@_q(
    "events_absence_streaks",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    active AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day_no
      FROM ev
    ), gaps AS (
      SELECT user_id,
             day_no - LAG(day_no) OVER (PARTITION BY user_id
                                        ORDER BY day_no) - 1 AS absent_run
      FROM active
    ), per_user AS (
      SELECT user_id,
             COALESCE(MAX(absent_run), 0) AS longest_absent
      FROM gaps GROUP BY user_id
    )
    SELECT LEAST(longest_absent, 14) AS absent_days_capped,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM per_user
    GROUP BY 1
    """,
)
def events_absence_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user longest absent-days run inside the user's own observed
    span (gap-islands at user grain): distinct active epoch-days per
    user, consecutive-day gaps minus one = absent run, MAX per user,
    then a capped histogram (14+ bucketed together for a bounded
    15-row output over the one-month fixture window or any window).
    Single-active-day users have no gap and read longest_absent = 0
    (COALESCE, documented). Exact integer epoch-day arithmetic
    (micros div 86400e6, positive so floor == trunc); one (user, day)
    dedup shuffle + one user window over the reduced day sets."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
        ).alias("day_no"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_no")
    gaps = active.select(
        "user_id",
        (F.col("day_no") - F.lag("day_no").over(w) - 1).alias("absent_run"),
    )
    per_user = gaps.groupBy("user_id").agg(
        F.coalesce(F.max("absent_run"), F.lit(0)).alias("longest_absent")
    )
    return per_user.groupBy(
        F.least(F.col("longest_absent"), F.lit(14)).alias(
            "absent_days_capped"
        )
    ).agg(F.count("*").cast("bigint").alias("n_users"))


@_q(
    "events_value_pareto_share",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    per_user AS (
      SELECT user_id, SUM(CAST(value AS DECIMAL(30,4))) AS v
      FROM ev GROUP BY user_id
    ), ranked AS (
      SELECT user_id, v,
             ROW_NUMBER() OVER (ORDER BY v DESC, user_id) AS rk
      FROM per_user
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(COUNT(*) AS BIGINT) // 10 AS n_top,
             SUM(v) AS total_v
      FROM per_user
    )
    SELECT t.n_users, t.n_top,
           CAST(SUM(CASE WHEN r.rk <= t.n_top THEN r.v
                         ELSE CAST(0 AS DECIMAL(30,4)) END) AS DOUBLE)
             AS top_value,
           CAST(t.total_v AS DOUBLE) AS total_value,
           CASE WHEN t.n_top > 0 AND t.total_v <> 0 THEN
             CAST(SUM(CASE WHEN r.rk <= t.n_top THEN r.v
                           ELSE CAST(0 AS DECIMAL(30,4)) END) AS DOUBLE)
             / CAST(t.total_v AS DOUBLE)
           END AS pareto_share
    FROM ranked r CROSS JOIN tot t
    GROUP BY t.n_users, t.n_top, t.total_v
    """,
)
def events_value_pareto_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lifetime value concentration: the share of ALL event value held
    by the top decile of users over the whole window — the global
    80/20 readout (events_whale_share grades the same concentration
    at DAY grain with NTILE; this is the lifetime cut via an exact
    rank threshold n_top = n_users div 10). Per-user totals are exact
    DECIMAL sums; ROW_NUMBER over (v DESC, user_id) pins ties; the
    only doubles are the surfaced totals and the one guarded share
    division (n_top = 0 on <10 users -> NULL). One user shuffle +
    one window over the reduced per-user table + a broadcast 1-row
    totals join."""
    from pyspark.sql import Window

    from .helpers import DEC as _DEC

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast(_DEC)).alias("v")
    )
    ranked = per_user.select(
        "user_id",
        "v",
        F.row_number()
        .over(Window.orderBy(F.col("v").desc(), "user_id"))
        .alias("rk"),
    )
    tot = per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.expr("count(*) div 10").cast("bigint").alias("n_top"),
        F.sum("v").alias("total_v"),
    )
    zero_dec = F.lit(0).cast(_DEC)
    top_sum = F.sum(
        F.when(F.col("rk") <= F.col("n_top"), F.col("v")).otherwise(
            zero_dec
        )
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("n_users", "n_top", "total_v")
        .agg(top_sum.alias("top_sum"))
        .select(
            "n_users",
            "n_top",
            F.col("top_sum").cast("double").alias("top_value"),
            F.col("total_v").cast("double").alias("total_value"),
            F.when(
                (F.col("n_top") > 0) & (F.col("total_v") != 0),
                F.col("top_sum").cast("double")
                / F.col("total_v").cast("double"),
            ).alias("pareto_share"),
        )
    )


# --- round 15 wave-2 pre-builds: CV^2 burstiness, peak-hour stability, -----
# --- within-session co-occurrence ------------------------------------------


@_q(
    "events_interevent_cv2",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    gaps AS (
      SELECT user_id,
             (epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
               AS gap_s
      FROM ev
    ), per_user AS (
      SELECT user_id,
             CAST(COUNT(gap_s) AS BIGINT) AS n,
             CAST(SUM(gap_s) AS BIGINT) AS s1,
             CAST(SUM(gap_s * gap_s) AS BIGINT) AS s2
      FROM gaps WHERE gap_s IS NOT NULL GROUP BY user_id
    ), scored AS (
      SELECT (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) AS cv2
      FROM per_user WHERE n >= 2 AND s1 > 0
    )
    SELECT CASE WHEN cv2 < 0.5 THEN 'regular_lt_0.5'
                WHEN cv2 < 1.0 THEN 'sub_poisson_0.5_1'
                WHEN cv2 < 2.0 THEN 'poissonish_1_2'
                WHEN cv2 < 5.0 THEN 'bursty_2_5'
                ELSE 'extreme_ge_5' END AS cv2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM scored GROUP BY 1
    """,
)
def events_interevent_cv2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CV^2 of inter-event gaps — the burstiness census at
    user grain (CV^2 ~ 1 reads Poisson, > 1 bursty; the corpus-level
    burstiness entries average this away). Gaps floor to the seconds
    lattice (micros div 1e6, non-negative so // == div); per-user n,
    s1, s2 are exact BIGINTs (gap < 2.7e6 s inside the fixture month,
    s2 < n * 7.3e12 — int64-safe up to ~10^6 events/user); CV^2 =
    (n*s2 - s1^2)/s1^2 pivots each exact sum through ONE int64->double
    conversion because s1^2 itself can exceed int64 (the round-7
    prescription). Eligibility: >= 2 gaps and s1 > 0 (all-simultaneous
    streams carry no cadence — documented). Output is a bounded 5-label
    histogram; one user shuffle."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    gaps = ev.select(
        "user_id",
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP))"
            " - lag(unix_micros(CAST(ts AS TIMESTAMP)))"
            " OVER (PARTITION BY user_id ORDER BY ts, event_id))"
            " div 1000000"
        ).alias("gap_s"),
    )
    per_user = (
        gaps.filter(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap_s").cast("bigint").alias("n"),
            F.sum("gap_s").cast("bigint").alias("s1"),
            F.sum(F.col("gap_s") * F.col("gap_s"))
            .cast("bigint")
            .alias("s2"),
        )
    )
    d = lambda c: F.col(c).cast("double")
    scored = per_user.filter(
        (F.col("n") >= 2) & (F.col("s1") > 0)
    ).select(
        (
            (d("n") * d("s2") - d("s1") * d("s1")) / (d("s1") * d("s1"))
        ).alias("cv2")
    )
    return scored.groupBy(
        F.when(F.col("cv2") < 0.5, "regular_lt_0.5")
        .when(F.col("cv2") < 1.0, "sub_poisson_0.5_1")
        .when(F.col("cv2") < 2.0, "poissonish_1_2")
        .when(F.col("cv2") < 5.0, "bursty_2_5")
        .otherwise("extreme_ge_5")
        .alias("cv2_bucket")
    ).agg(F.count("*").cast("bigint").alias("n_users"))


@_q(
    "events_peak_hour_stability",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    cells AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 // 7 AS week_no,
             (epoch_us(ts) % 86400000000) // 3600000000 AS hour_of_day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM ev GROUP BY 1, 2, 3
    ), peaks AS (
      SELECT event_type, week_no,
             99 - (MAX(c * 100 + (99 - hour_of_day)) % 100) AS peak_hour
      FROM cells GROUP BY event_type, week_no
    ), changes AS (
      SELECT event_type, week_no, peak_hour,
             CASE WHEN LAG(peak_hour) OVER (PARTITION BY event_type
                                            ORDER BY week_no)
                       IS DISTINCT FROM peak_hour
                   AND LAG(peak_hour) OVER (PARTITION BY event_type
                                            ORDER BY week_no) IS NOT NULL
                  THEN 1 ELSE 0 END AS changed
      FROM peaks
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_weeks,
           CAST(SUM(changed) AS BIGINT) AS n_changes,
           CAST(MIN(CASE WHEN week_no = (SELECT MIN(week_no) FROM peaks p2
                                         WHERE p2.event_type = changes.event_type)
                         THEN peak_hour END) AS BIGINT) AS first_peak_hour
    FROM changes GROUP BY event_type
    """,
)
def events_peak_hour_stability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Week-over-week stability of each event type's PEAK HOUR — the
    instrumentation-shift screen (a timezone bug or SDK swap moves the
    peak; organic traffic doesn't). Weeks are portable epoch-weeks
    (epoch_day div 7 — no ISO-week library semantics to disagree on);
    the per-week peak is a packed-integer argmax c*100 + (99 - hour),
    ties resolved to the SMALLEST hour deterministically; changes
    count weeks whose peak differs from the previous week's
    (IS DISTINCT FROM, NULL-safe at the first week which never
    counts). Exact integers end-to-end; bounded |types x weeks|
    intermediates; one rollup + one window."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 div 7"
        ).alias("week_no"),
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP)) % 86400000000)"
            " div 3600000000"
        ).alias("hour_of_day"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    peaks = cells.groupBy("event_type", "week_no").agg(
        (
            F.lit(99)
            - F.max(
                F.col("c") * 100 + (F.lit(99) - F.col("hour_of_day"))
            )
            % 100
        ).alias("peak_hour")
    )
    w = Window.partitionBy("event_type").orderBy("week_no")
    prev = F.lag("peak_hour").over(w)
    changes = peaks.select(
        "event_type",
        "week_no",
        "peak_hour",
        F.when(
            prev.isNotNull() & ~prev.eqNullSafe(F.col("peak_hour")), 1
        )
        .otherwise(0)
        .alias("changed"),
    )
    first_week = peaks.groupBy("event_type").agg(
        F.min("week_no").alias("w0")
    )
    return (
        changes.join(F.broadcast(first_week), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_weeks"),
            F.sum("changed").cast("bigint").alias("n_changes"),
            F.min(
                F.when(
                    F.col("week_no") == F.col("w0"), F.col("peak_hour")
                )
            )
            .cast("bigint")
            .alias("first_peak_hour"),
        )
    )


@_q(
    "events_type_cooccurrence_matrix",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE THEN 0
                  ELSE 1 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, event_type,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM flagged
    ), st AS (
      SELECT DISTINCT user_id, session_id, event_type FROM sessions
    ), n_sess AS (
      SELECT CAST(COUNT(DISTINCT user_id || '#' || session_id) AS BIGINT)
        AS n_sessions
      FROM st
    ), marg AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_with
      FROM st GROUP BY event_type
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.session_id = b.session_id
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_both,
           ma.n_with AS n_a, mb.n_with AS n_b, s.n_sessions,
           CASE WHEN ma.n_with > 0 AND mb.n_with > 0 THEN
             CAST(p.n_both AS DOUBLE) * CAST(s.n_sessions AS DOUBLE)
             / (CAST(ma.n_with AS DOUBLE) * CAST(mb.n_with AS DOUBLE))
           END AS lift
    FROM pairs p
    JOIN marg ma ON ma.event_type = p.type_a
    JOIN marg mb ON mb.event_type = p.type_b
    CROSS JOIN n_sess s
    """,
)
def events_type_cooccurrence_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Within-session event-type co-occurrence with lift vs
    independence: sessions from the graded 30-minute-gap
    sessionization, distinct (session, type) membership, unordered
    pairs type_a < type_b, lift = n_both * n_sessions / (n_a * n_b)
    (> 1 = the types travel together; the bounded |types|^2 output
    makes this a table, not a blowup). Counts are exact BIGINTs; lift
    pivots each through one int64->double conversion (cast-per-
    factor). The pair self-join keys on (user, session) — bounded by
    |types| rows per session, so the join output is |sessions| x
    |types|^2 at worst, reduced map-side. Two user-keyed shuffles +
    broadcast marginals."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_session = F.when(
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(
            F.lag(F.col("ts").cast("timestamp")).over(w)
        )
        <= 30 * 60 * 1000000,
        0,
    ).otherwise(1)
    sessions = ev.select(
        "user_id",
        "event_type",
        F.sum(new_session).over(cum).cast("bigint").alias("session_id"),
    )
    st = sessions.select("user_id", "session_id", "event_type").distinct()
    n_sess = st.select(
        F.concat_ws("#", "user_id", "session_id").alias("sk")
    ).agg(F.countDistinct("sk").cast("bigint").alias("n_sessions"))
    marg = st.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_with")
    )
    a = st.alias("a")
    b = st.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.session_id") == F.col("b.session_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    ma = marg.select(
        F.col("event_type").alias("type_a"), F.col("n_with").alias("n_a")
    )
    mb = marg.select(
        F.col("event_type").alias("type_b"), F.col("n_with").alias("n_b")
    )
    d = lambda c: F.col(c).cast("double")
    return (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(n_sess))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            "n_sessions",
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0),
                d("n_both") * d("n_sessions") / (d("n_a") * d("n_b")),
            ).alias("lift"),
        )
    )


# --- round 16 wave-1 pre-build: daily velocity / acceleration ---------------


@_q(
    "events_daily_velocity_acceleration",
    """
    WITH ev AS (
      SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
      FROM events
    ), daily AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM ev GROUP BY 1
    ), span AS (
      SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily
    ), cal AS (
      SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
        AS day
      FROM span
    ), filled AS (
      SELECT c.day, CAST(COALESCE(d.n_events, 0) AS BIGINT) AS n_events
      FROM cal c LEFT JOIN daily d USING (day)
    ), v AS (
      SELECT day, n_events,
             CAST(n_events - LAG(n_events) OVER (ORDER BY day) AS BIGINT)
               AS velocity
      FROM filled
    ), a AS (
      SELECT day, n_events, velocity,
             CAST(velocity - LAG(velocity) OVER (ORDER BY day) AS BIGINT)
               AS acceleration
      FROM v
    )
    SELECT day, n_events, velocity, acceleration,
           CASE WHEN acceleration IS NULL THEN 'warmup'
                WHEN acceleration > 0 THEN 'accelerating'
                WHEN acceleration < 0 THEN 'decelerating'
                ELSE 'steady' END AS pattern
    FROM a
    """,
)
def events_daily_velocity_acceleration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily event velocity and acceleration (ROADMAP_r16 #16): first
    and second differences of the daily count on the ZERO-FILLED
    calendar spine (a dark day is a real 0, not a missing row — the
    gap-fill idiom; without the fill a two-day outage reads as one
    gentle step instead of a crash and rebound), with the per-day
    sign-pattern label. Exact BIGINT integers end to end (counts,
    both differences), warm-up rows surface as NULL/'warmup' (the
    lag-NULL gate), DATE emitted at source. The spine rides |days|
    rows regardless of event volume — one rollup, one bounded
    ordered window."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date(F.col("ts").cast("timestamp")).alias("day")
    )
    daily = ev.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = span.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    filled = cal.join(daily, "day", "left").select(
        "day",
        F.coalesce(F.col("n_events"), F.lit(0))
        .cast("bigint")
        .alias("n_events"),
    )
    w = Window.orderBy("day")
    v = filled.select(
        "day",
        "n_events",
        (F.col("n_events") - F.lag("n_events").over(w))
        .cast("bigint")
        .alias("velocity"),
    )
    a = v.select(
        "day",
        "n_events",
        "velocity",
        (F.col("velocity") - F.lag("velocity").over(w))
        .cast("bigint")
        .alias("acceleration"),
    )
    return a.select(
        "day",
        "n_events",
        "velocity",
        "acceleration",
        F.when(F.col("acceleration").isNull(), "warmup")
        .when(F.col("acceleration") > 0, "accelerating")
        .when(F.col("acceleration") < 0, "decelerating")
        .otherwise("steady")
        .alias("pattern"),
    )


# --- round 16: type-pair audience overlap -----------------------------------


@_q(
    "events_type_audience_overlap",
    """
    WITH ut AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), sz AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM ut GROUP BY event_type
    ), inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM ut a JOIN ut b
        ON b.user_id = a.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT sa.event_type AS type_a, sb.event_type AS type_b,
           sa.n_users AS n_users_a, sb.n_users AS n_users_b,
           COALESCE(i.n_both, 0) AS n_both,
           CAST(COALESCE(i.n_both, 0) AS DOUBLE)
             / CAST(sa.n_users + sb.n_users - COALESCE(i.n_both, 0)
                    AS DOUBLE) AS audience_jaccard
    FROM sz sa JOIN sz sb ON sa.event_type < sb.event_type
    LEFT JOIN inter i
      ON i.type_a = sa.event_type AND i.type_b = sb.event_type
    """,
)
def events_type_audience_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audience overlap per event-type pair (ROADMAP_r16 #14): the
    Jaccard of DISTINCT user sets — do the users who click overlap
    the users who purchase — the AUDIENCE twin of the graded
    within-session co-occurrence matrix (that entry asks whether
    types co-fire in one session; this asks whether they share
    people at all). Exact distinct counts via one (type, user) dedup;
    intersections via the dedup's self-equi-join on user (each user
    contributes at most C(|types|, 2) pairs, so the join output is
    |users| x bounded, never quadratic in events); the |types|^2
    pair spine comes from the broadcast per-type size table so
    zero-overlap pairs surface with n_both = 0. The union denominator
    n_a + n_b - n_both is >= 1 whenever the pair exists (both sets
    non-empty), making the division structurally safe — kept
    explicit for the ANSI-totality contract."""
    ut = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    ut = materialize_reduced(ut)
    sz = ut.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    a = ut.select(
        F.col("event_type").alias("type_a"), F.col("user_id").alias("u")
    )
    b = ut.select(
        F.col("event_type").alias("type_b"), F.col("user_id").alias("u")
    )
    inter = (
        a.join(b, (a.u == b.u) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    sa = sz.select(
        F.col("event_type").alias("type_a"),
        F.col("n_users").alias("n_users_a"),
    )
    sb = sz.select(
        F.col("event_type").alias("type_b"),
        F.col("n_users").alias("n_users_b"),
    )
    spine = sa.crossJoin(F.broadcast(sb)).filter(
        F.col("type_a") < F.col("type_b")
    )
    out = spine.join(F.broadcast(inter), ["type_a", "type_b"], "left")
    nb = F.coalesce(F.col("n_both"), F.lit(0).cast("bigint"))
    return out.select(
        "type_a",
        "type_b",
        "n_users_a",
        "n_users_b",
        nb.alias("n_both"),
        (
            nb.cast("double")
            / (F.col("n_users_a") + F.col("n_users_b") - nb).cast("double")
        ).alias("audience_jaccard"),
    )
