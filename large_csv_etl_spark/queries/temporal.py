"""Temporal joins (§2b custom operators Spark lacks as built-ins).

Two classics a training-data/feature pipeline needs that plain equi-joins
can't express:

- **As-of join** (``events`` -> most recent ``orders`` row at-or-before the
  event, per user). The naive form is a per-key sorted lookup; the
  distributed form used here is the union trick: tag both streams, union,
  one window pass per user ordered by time, carry the last non-null order
  attributes forward. ONE shuffle on user_id, no join explosion, state per
  row is O(1) — the plan you want at 100 TB. DuckDB's native ``ASOF JOIN``
  is the oracle.

- **Range (band) join** (same-user follower events within a 6-hour band).
  A raw inequality join degenerates to per-key cartesian; here both sides
  are bucketed to the band width (left rows replicated into the 2 covering
  buckets, right rows into exactly 1), the join runs on (user, bucket)
  equi-keys — broadcast/SMJ-able, AQE-splittable — and the exact band
  predicate filters after. Candidates per row are bounded by the user's
  rows in a 2-bucket span, not their whole history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from .events import session_frame
from .helpers import materialize_reduced, registry

QUERIES, ORACLES, _q = registry()


@_q(
    "asof_join_latest_order",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    o1 AS (
      -- one order per (user, instant): ASOF picks by time only, so equal
      -- timestamps must be pre-collapsed for a deterministic winner
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey AS matched_orderkey,
           o.o_orderdate AS matched_orderdate
    FROM ev e
    ASOF LEFT JOIN o1 o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's most recent order at or
    before the event timestamp (left — unmatched events keep nulls)."""
    ev = load_table(spark, sf_dir, "events")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    o_side = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("o_orderkey"),
        F.col("o_orderdate"),
    )
    e_side = ev.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_orderdate"),
    )
    # is_event breaks timestamp ties order-first, making "at or before"
    # inclusive; order rows carry nulls in event_id and vice versa, so
    # last(ignorenulls) over the union is exactly the as-of lookup.
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o_side.unionByName(e_side)
        .withColumn("matched_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
        .withColumn(
            "matched_orderdate", F.last("o_orderdate", ignorenulls=True).over(w)
        )
        .filter(F.col("is_event") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("t").alias("ts"),
            "matched_orderkey",
            "matched_orderdate",
        )
    )


BAND_SECONDS = 6 * 3600  # range-join band width: 6 hours


@_q(
    "range_join_follower_events",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT a.event_id, COUNT(*) AS n_follow
    FROM ev a JOIN ev b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 6 HOUR
    GROUP BY a.event_id
    """,
)
def range_join_follower_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (range) self-join: per event, how many of the same user's
    events follow within 6 hours. The oracle's raw inequality join is
    per-user cartesian — the scale path here buckets both sides to the
    band width, replicates the LEFT side into its two covering buckets
    (each right event lives in exactly ONE bucket, so no pair is counted
    twice), equi-joins on (user, bucket), and applies the exact band
    predicate after. Candidates per event are bounded by the user's events
    in a 12-hour span, not their whole history."""
    ev = load_table(spark, sf_dir, "events")
    right = ev.select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
        F.floor(F.unix_timestamp("ts") / BAND_SECONDS).alias("bucket"),
    )
    left = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.unix_timestamp("ts") / BAND_SECONDS).alias("b0"),
    ).withColumn("bucket", F.explode(F.array(F.col("b0"), F.col("b0") + 1)))
    return (
        left.join(
            right,
            (left.user_id == right.b_user) & (left.bucket == right.bucket),
        )
        .filter(
            (F.col("b_ts") > F.col("ts"))
            & (F.col("b_ts") <= F.col("ts") + F.expr("INTERVAL 6 HOURS"))
        )
        .groupBy("event_id")
        .agg(F.count("*").alias("n_follow"))
    )


ASOF_TTL_US = 30 * 86400 * 1_000_000  # 30-day feature-freshness TTL


ORACLES["asof_join_with_ttl"] = f"""
    WITH asof_m AS ({{asof_oracle}})
    SELECT event_id, user_id, ts,
           CASE WHEN matched_orderkey IS NOT NULL
                 AND epoch_us(ts) - epoch_us(matched_orderdate) <= {ASOF_TTL_US}
                THEN matched_orderkey END AS fresh_orderkey,
           CASE WHEN matched_orderkey IS NOT NULL
                 AND epoch_us(ts) - epoch_us(matched_orderdate) <= {ASOF_TTL_US}
                THEN epoch_us(ts) - epoch_us(matched_orderdate)
           END AS staleness_us,
           CASE WHEN matched_orderkey IS NOT NULL
                THEN epoch_us(ts) - epoch_us(matched_orderdate) > {ASOF_TTL_US}
           END AS is_stale
    FROM asof_m
"""


@_q("asof_join_with_ttl")
def asof_join_with_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a freshness TTL — feature-store point-in-time
    lookup semantics: the most recent order at-or-before each event
    counts as a match only when it is at most 30 days old; staler matches
    are surfaced as ``is_stale`` with the feature value withheld (the
    serve-nothing-stale contract that prevents silently training on
    expired features). Composes the graded as-of plan (one union-window
    shuffle, no join explosion) with a pure row-local epoch filter;
    staleness is exact integer microseconds in both engines."""
    asof = asof_join_latest_order(spark, sf_dir)
    # events ts is TIMESTAMP_NTZ on disk; the cast is a pure
    # reinterpretation because load_table pins the session to UTC
    diff = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("matched_orderdate").cast("timestamp")
    )
    has = F.col("matched_orderkey").isNotNull()
    fresh = has & (diff <= ASOF_TTL_US)
    return asof.select(
        "event_id",
        "user_id",
        "ts",
        F.when(fresh, F.col("matched_orderkey")).alias("fresh_orderkey"),
        F.when(fresh, diff).alias("staleness_us"),
        F.when(has, diff > ASOF_TTL_US).alias("is_stale"),
    )


ORACLES["asof_join_with_ttl"] = ORACLES["asof_join_with_ttl"].format(
    asof_oracle=ORACLES["asof_join_latest_order"]
)


@_q(
    "temporal_nearest_event_to_order",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    u AS (
      SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS t,
             0 AS is_event, o_orderkey, CAST(NULL AS BIGINT) AS event_id
      FROM orders
      UNION ALL
      SELECT user_id, ts, 1, CAST(NULL AS BIGINT), event_id FROM ev
    ), fwd AS (
      SELECT *,
             LAST_VALUE(event_id IGNORE NULLS) OVER w AS prev_event_id,
             LAST_VALUE(CASE WHEN is_event = 1 THEN t END IGNORE NULLS)
               OVER w AS prev_t
      FROM u
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY t, is_event DESC, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), bi AS (
      SELECT *,
             LAST_VALUE(event_id IGNORE NULLS) OVER w2 AS next_event_id,
             LAST_VALUE(CASE WHEN is_event = 1 THEN t END IGNORE NULLS)
               OVER w2 AS next_t
      FROM fwd
      WINDOW w2 AS (PARTITION BY user_id
                    ORDER BY t DESC, is_event DESC, event_id DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT o_orderkey, user_id, prev_event_id, next_event_id,
           CASE
             WHEN prev_t IS NULL THEN next_event_id
             WHEN next_t IS NULL THEN prev_event_id
             WHEN epoch_us(t) - epoch_us(prev_t)
                  <= epoch_us(next_t) - epoch_us(t) THEN prev_event_id
             ELSE next_event_id
           END AS nearest_event_id,
           CASE
             WHEN prev_t IS NULL AND next_t IS NULL THEN CAST(NULL AS BIGINT)
             WHEN prev_t IS NULL THEN epoch_us(next_t) - epoch_us(t)
             WHEN next_t IS NULL THEN epoch_us(t) - epoch_us(prev_t)
             WHEN epoch_us(t) - epoch_us(prev_t)
                  <= epoch_us(next_t) - epoch_us(t)
               THEN epoch_us(t) - epoch_us(prev_t)
             ELSE epoch_us(next_t) - epoch_us(t)
           END AS nearest_gap_us
    FROM bi WHERE is_event = 0
    """,
)
def temporal_nearest_event_to_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time join, EITHER direction: each order matched to the
    customer's closest event (at-or-before OR at-or-after its date) with
    the signed choice resolved by the smaller absolute gap, ties to the
    earlier side — the enrichment shape when 'most recent' is wrong
    half the time (attributing an order to the nearest session, not
    just the last one). Same union-window technique as the as-of join —
    one shuffle on the user key, two window passes over the same
    partitioning (forward pass for the at-or-before event, reversed
    pass for the at-or-after) — never a join explosion. Equal-instant
    determinism: events sort before the order row at the same t (an
    event AT the order instant matches both directions, gap 0), and
    within an instant the forward pass keeps the max event_id, the
    reversed pass the min — both engines execute the identical sort, so
    the choice is pinned. All gaps exact integer micros."""
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    o_side = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        F.lit(0).alias("is_event"),
        "o_orderkey",
        F.lit(None).cast("bigint").alias("event_id"),
    )
    e_side = ev.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("t"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        "event_id",
    )
    u = o_side.unionByName(e_side)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t"), F.col("is_event").desc(), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev_t = F.when(F.col("is_event") == 1, F.col("t"))
    fwd = u.select(
        "*",
        F.last("event_id", ignorenulls=True).over(w).alias("prev_event_id"),
        F.last(ev_t, ignorenulls=True).over(w).alias("prev_t"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("t").desc(), F.col("is_event").desc(), F.col("event_id").desc()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bi = fwd.select(
        "*",
        F.last("event_id", ignorenulls=True).over(w2).alias("next_event_id"),
        F.last(ev_t, ignorenulls=True).over(w2).alias("next_t"),
    )
    t_us = F.unix_micros(F.col("t"))
    prev_gap = t_us - F.unix_micros(F.col("prev_t"))
    next_gap = F.unix_micros(F.col("next_t")) - t_us
    nearest_id = (
        F.when(F.col("prev_t").isNull(), F.col("next_event_id"))
        .when(F.col("next_t").isNull(), F.col("prev_event_id"))
        .when(prev_gap <= next_gap, F.col("prev_event_id"))
        .otherwise(F.col("next_event_id"))
    )
    nearest_gap = (
        F.when(
            F.col("prev_t").isNull() & F.col("next_t").isNull(),
            F.lit(None).cast("bigint"),
        )
        .when(F.col("prev_t").isNull(), next_gap)
        .when(F.col("next_t").isNull(), prev_gap)
        .when(prev_gap <= next_gap, prev_gap)
        .otherwise(next_gap)
    )
    return bi.filter(F.col("is_event") == 0).select(
        "o_orderkey",
        "user_id",
        "prev_event_id",
        "next_event_id",
        nearest_id.alias("nearest_event_id"),
        nearest_gap.alias("nearest_gap_us"),
    )


@_q(
    "temporal_business_hours_overlap",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE THEN 0
                  ELSE 1 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id,
             CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id,
             ts
      FROM flagged
    ), iv AS (
      SELECT user_id, session_id, MIN(ts) AS s, MAX(ts) AS e
      FROM sess GROUP BY user_id, session_id
    ), days AS (
      SELECT user_id, session_id, s, e,
             UNNEST(generate_series(CAST(date_trunc('day', s) AS TIMESTAMP),
                                    CAST(date_trunc('day', e) AS TIMESTAMP),
                                    INTERVAL 1 DAY)) AS d
      FROM iv
    ), ol AS (
      SELECT user_id, session_id,
             epoch_us(e) - epoch_us(s) AS span_us,
             GREATEST(CAST(0 AS BIGINT),
               LEAST(epoch_us(e), epoch_us(d + INTERVAL 17 HOUR))
               - GREATEST(epoch_us(s), epoch_us(d + INTERVAL 9 HOUR)))
               AS overlap_us
      FROM days
    )
    SELECT user_id,
           CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN overlap_us > 0 THEN overlap_us ELSE 0 END)
                AS BIGINT) AS business_us,
           CAST(MAX(span_us) AS BIGINT) AS longest_session_us
    FROM ol
    GROUP BY user_id
    """,
)
def temporal_business_hours_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap arithmetic: intersect each user session interval
    (the graded 30-min-gap sessionization) with recurring business-hours
    windows (09:00-17:00 daily) and report per-user in-hours activity —
    the temporal-join primitive behind SLA accounting, on-call overlap,
    and ad-delivery pacing windows (`GREATEST(0, LEAST(ends) -
    GREATEST(starts))` is the textbook interval-intersection kernel,
    here in exact integer micros). Sessions span at most a handful of
    calendar days, so the per-session day explode is O(days-per-
    session) — bounded, row-local, never a corpus-sized blowup; one
    user-keyed shuffle is shared by the sessionization window and the
    final rollup."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts = F.col("ts").cast("timestamp")
    flagged = ev.select(
        "user_id",
        ts.alias("ts"),
        "event_id",
        F.when(
            ts - F.lag(ts).over(w) <= F.expr("INTERVAL 30 MINUTE"), 0
        )
        .otherwise(1)
        .alias("new_session"),
    )
    sess = flagged.select(
        "user_id",
        F.sum("new_session").over(cum).cast("bigint").alias("session_id"),
        "ts",
    )
    iv = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    days = iv.select(
        "user_id",
        "session_id",
        "s",
        "e",
        F.explode(
            F.expr(
                "sequence(date_trunc('day', s), date_trunc('day', e),"
                " INTERVAL 1 DAY)"
            )
        ).alias("d"),
    )
    us = lambda c: F.unix_micros(c)
    overlap = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(us(F.col("e")), us(F.expr("d + INTERVAL 17 HOUR")))
        - F.greatest(us(F.col("s")), us(F.expr("d + INTERVAL 9 HOUR"))),
    )
    ol = days.select(
        "user_id",
        "session_id",
        (us(F.col("e")) - us(F.col("s"))).alias("span_us"),
        overlap.alias("overlap_us"),
    )
    return ol.groupBy("user_id").agg(
        F.countDistinct("session_id").cast("bigint").alias("n_sessions"),
        F.sum(F.when(F.col("overlap_us") > 0, F.col("overlap_us")).otherwise(0))
        .cast("bigint")
        .alias("business_us"),
        F.max("span_us").cast("bigint").alias("longest_session_us"),
    )


@_q(
    "temporal_ship_lag_sla",
    """
    WITH lags AS (
      SELECT o.o_orderpriority AS priority,
             CAST(date_diff('day', CAST(o.o_orderdate AS TIMESTAMP),
                            CAST(l.l_shipdate AS TIMESTAMP)) AS BIGINT)
               AS lag_days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           quantile_cont(CAST(lag_days AS DOUBLE), 0.5) AS p50_days,
           quantile_cont(CAST(lag_days AS DOUBLE), 0.9) AS p90_days,
           quantile_cont(CAST(lag_days AS DOUBLE), 0.99) AS p99_days,
           CAST(MAX(lag_days) AS BIGINT) AS max_days,
           CAST(SUM(CASE WHEN lag_days > 90 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_breaching_90d
    FROM lags GROUP BY priority
    """,
)
def temporal_ship_lag_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship SLA percentiles per priority class: exact
    interpolated p50/p90/p99 of the ship lag in days, plus the count
    breaching a 90-day SLA — the fulfillment report every ops review
    reads, and percentile-based SLAs (not means) are how latency
    contracts are actually written. Lags are exact integer days
    (datediff — no timestamp float math); the percentiles use the same
    interpolated-quantile contract the graded median entry proved
    cross-engine (Spark percentile == DuckDB quantile_cont). Exact
    per-group percentiles co-locate each priority's lags — 5 bounded
    groups; at high-cardinality keys the sketch path
    (approx_quantiles) takes over."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lags = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("timestamp").cast("date"),
            F.col("o_orderdate").cast("timestamp").cast("date"),
        )
        .cast("bigint")
        .alias("lag_days"),
    )
    d = F.col("lag_days").cast("double")
    return lags.groupBy("priority").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.percentile(d, F.lit(0.5)).alias("p50_days"),
        F.percentile(d, F.lit(0.9)).alias("p90_days"),
        F.percentile(d, F.lit(0.99)).alias("p99_days"),
        F.max("lag_days").cast("bigint").alias("max_days"),
        F.sum(F.when(F.col("lag_days") > 90, 1).otherwise(0))
        .cast("bigint")
        .alias("n_breaching_90d"),
    )


@_q(
    "temporal_interval_overlap_join",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w <= 1800000000
                  THEN 0 ELSE 1 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id,
             CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_id,
             ts
      FROM flagged
    ), bounds AS (
      SELECT user_id, session_id,
             MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM sessions GROUP BY user_id, session_id
    ), expanded AS (
      SELECT b.*, UNNEST(generate_series(
               CAST(DATE_TRUNC('day', session_start) AS DATE),
               CAST(DATE_TRUNC('day', session_end) AS DATE),
               INTERVAL 1 DAY)) AS win_day
      FROM bounds b
    ), ovl AS (
      SELECT user_id, session_id, session_start, session_end,
             GREATEST(0,
               LEAST(epoch_us(session_end),
                     epoch_us(CAST(win_day AS TIMESTAMP) + INTERVAL 4 HOUR))
               - GREATEST(epoch_us(session_start),
                          epoch_us(CAST(win_day AS TIMESTAMP) + INTERVAL 2 HOUR))
             ) AS ov_us
      FROM expanded
    )
    SELECT user_id, session_id, session_start, session_end,
           CAST(SUM(ov_us) AS BIGINT) AS downtime_overlap_us,
           CAST(SUM(CASE WHEN ov_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_windows_hit
    FROM ovl
    GROUP BY user_id, session_id, session_start, session_end
    """,
)
def temporal_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: user activity sessions (the 30-minute-gap
    sessionization contract) joined against a recurring maintenance
    window (daily 02:00-04:00 UTC), reporting per session the overlapped
    microseconds and how many windows it hit — the generic
    interval x interval join behind downtime attribution, SLA clocks and
    on-call overlap, expressed without an inequality join: each session
    expands to the calendar days it touches (bounded by session length,
    almost always 1 row), the windows derive from those days, and the
    pairwise overlap is ``greatest(0, least(ends) - greatest(starts))``
    in exact epoch-microsecond BIGINTs. No quadratic per-user candidate
    set, no float arithmetic anywhere. At 100 TB the expansion key
    (user, day) is the partition key the sessionizer already shuffled
    on."""
    sessions = session_frame(spark, sf_dir)
    bounds = sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"), F.max("ts").alias("session_end")
    )
    expanded = bounds.select(
        "*",
        F.explode(
            F.sequence(
                F.to_date("session_start"),
                F.to_date("session_end"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("win_day"),
    )
    s_us = F.unix_micros(F.col("session_start").cast("timestamp"))
    e_us = F.unix_micros(F.col("session_end").cast("timestamp"))
    w_start = F.unix_micros(
        F.col("win_day").cast("timestamp") + F.expr("INTERVAL 2 HOURS")
    )
    w_end = F.unix_micros(
        F.col("win_day").cast("timestamp") + F.expr("INTERVAL 4 HOURS")
    )
    ov = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(e_us, w_end) - F.greatest(s_us, w_start),
    )
    return (
        expanded.select(
            "user_id", "session_id", "session_start", "session_end",
            ov.alias("ov_us"),
        )
        .groupBy("user_id", "session_id", "session_start", "session_end")
        .agg(
            F.sum("ov_us").cast("bigint").alias("downtime_overlap_us"),
            F.sum(F.when(F.col("ov_us") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_windows_hit"),
        )
    )


@_q(
    "temporal_point_in_time_join",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    seq AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = LAG(event_type) OVER w THEN 0 ELSE 1 END
               AS new_run
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT user_id, event_type,
             CAST(SUM(new_run) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS run_id,
             ts
      FROM seq
    ), intervals AS (
      SELECT user_id, event_type, run_id,
             MIN(ts) AS valid_from,
             LEAD(MIN(ts)) OVER (PARTITION BY user_id ORDER BY MIN(ts))
               AS valid_to
      FROM runs GROUP BY user_id, event_type, run_id
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           i.event_type AS state_at_order,
           i.valid_from AS state_since
    FROM orders o
    LEFT JOIN intervals i
      ON i.user_id = o.o_custkey
     AND o.o_orderdate >= i.valid_from
     AND (i.valid_to IS NULL OR o.o_orderdate < i.valid_to)
    """,
)
def temporal_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (effective-dated) lookup — the SCD2 consumer query:
    each order is joined to the state interval that was EFFECTIVE at its
    order date, where the state history is the user's event-type run
    intervals (consecutive same-type events = one validity interval,
    half-open [valid_from, valid_to)). This is the canonical "as the
    dimension looked then" join behind every SCD2 warehouse read and
    every leakage-safe feature backfill (training features must come
    from the interval valid at label time, never the current row).
    Intervals partition each user's timeline, so every order matches at
    most one row; orders before the first event keep NULL state via the
    left join. Plan: the interval build is one user-keyed window pass;
    the lookup is a user-keyed equi-join whose per-key fanout is the
    user's run count, with the interval predicate filtering in-join —
    the 100 TB variant swaps in the union-asof trick
    (asof_join_latest_order) when run counts explode."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.col("event_type") == F.lag("event_type").over(w), 0
        )
        .otherwise(1)
        .alias("new_run"),
    )
    runs = seq.select(
        "user_id",
        "event_type",
        F.sum("new_run")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("run_id"),
        "ts",
    )
    grouped = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("valid_from")
    )
    intervals = grouped.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from")
        .over(Window.partitionBy("user_id").orderBy("valid_from"))
        .alias("valid_to"),
    )
    orders = load_table(spark, sf_dir, "orders")
    return orders.join(
        intervals,
        (F.col("user_id") == F.col("o_custkey"))
        & (F.col("o_orderdate") >= F.col("valid_from"))
        & (
            F.col("valid_to").isNull()
            | (F.col("o_orderdate") < F.col("valid_to"))
        ),
        "left",
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("event_type").alias("state_at_order"),
        F.col("valid_from").alias("state_since"),
    )


@_q(
    "temporal_allen_relations",
    """
    WITH ev AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), spans AS (
      SELECT user_id, event_type, MIN(ts) AS s, MAX(ts) AS e
      FROM ev GROUP BY user_id, event_type
    ), pairs AS (
      SELECT a.s AS as_, a.e AS ae, b.s AS bs, b.e AS be
      FROM spans a JOIN spans b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
    ), rel AS (
      SELECT CASE
               WHEN ae < bs THEN 'precedes'
               WHEN ae = bs THEN 'meets'
               WHEN as_ > be THEN 'preceded_by'
               WHEN as_ = be THEN 'met_by'
               WHEN as_ < bs AND ae < be THEN 'overlaps'
               WHEN as_ < bs AND ae = be THEN 'finished_by'
               WHEN as_ < bs AND ae > be THEN 'contains'
               WHEN as_ = bs AND ae < be THEN 'starts'
               WHEN as_ = bs AND ae = be THEN 'equals'
               WHEN as_ = bs AND ae > be THEN 'started_by'
               WHEN as_ > bs AND ae < be THEN 'during'
               WHEN as_ > bs AND ae = be THEN 'finishes'
               ELSE 'overlapped_by'
             END AS relation
      FROM pairs
    ), tot AS (SELECT COUNT(*) AS n FROM rel)
    SELECT relation, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) AS DOUBLE) / t.n AS share
    FROM rel CROSS JOIN tot t GROUP BY relation, t.n
    """,
)
def temporal_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra census over per-user event-type activity
    spans ([first ts, last ts] of each type a user emitted; pairs
    ordered by type name): every pair lands in exactly one of the 13
    Allen relations via a mutually-exclusive CASE ladder of timestamp
    comparisons — precedes/meets and their inverses first, then the six
    proper-overlap cases, pure ordering logic identical in both
    engines. The census is the temporal-join planning primitive: a mix
    dominated by during/overlaps says feature usage is interleaved (an
    interval-overlap join fits); precedes-heavy says sequential (as-of
    joins fit). The span reduction shuffles once on (user, type), the
    pair join is co-partitioned on user_id with a <=C(5,2) blowup
    bound, and the census reduces to 13 rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    spans = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    a = spans.alias("a")
    b = spans.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.s").alias("as_"),
        F.col("a.e").alias("ae"),
        F.col("b.s").alias("bs"),
        F.col("b.e").alias("be"),
    )
    as_, ae, bs, be = (
        F.col("as_"),
        F.col("ae"),
        F.col("bs"),
        F.col("be"),
    )
    relation = (
        F.when(ae < bs, "precedes")
        .when(ae == bs, "meets")
        .when(as_ > be, "preceded_by")
        .when(as_ == be, "met_by")
        .when((as_ < bs) & (ae < be), "overlaps")
        .when((as_ < bs) & (ae == be), "finished_by")
        .when((as_ < bs) & (ae > be), "contains")
        .when((as_ == bs) & (ae < be), "starts")
        .when((as_ == bs) & (ae == be), "equals")
        .when((as_ == bs) & (ae > be), "started_by")
        .when((as_ > bs) & (ae < be), "during")
        .when((as_ > bs) & (ae == be), "finishes")
        .otherwise("overlapped_by")
    )
    rel = pairs.select(relation.alias("relation"))
    tot = rel.agg(F.count("*").alias("n"))
    return (
        rel.crossJoin(F.broadcast(tot))
        .groupBy("relation", "n")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .select(
            "relation",
            "n_pairs",
            (F.col("n_pairs").cast("double") / F.col("n")).alias("share"),
        )
    )


ANTI_BAND_SECONDS = 86400  # temporal anti-join band: +/- 1 day


@_q(
    "temporal_anti_join_window",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    clicks AS (
      SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'
    ), purchases AS (
      SELECT user_id, ts FROM ev WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id, c.ts
    FROM clicks c
    WHERE NOT EXISTS (
      SELECT 1 FROM purchases p
      WHERE p.user_id = c.user_id
        AND p.ts >= c.ts - INTERVAL 1 DAY
        AND p.ts <= c.ts + INTERVAL 1 DAY
    )
    """,
)
def temporal_anti_join_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal ANTI-join: clicks with NO purchase by the same user
    within +/-1 day — the negative-space twin of the graded range join
    (the band join finds what's nearby; this finds what is provably
    alone, the shape behind unconverted-exposure and orphan-signal
    reports). Same scale discipline as range_join_follower_events: the
    oracle's NOT EXISTS is a per-user interval scan, the engine buckets
    both sides to the band width, replicates the LEFT side into its
    three covering buckets (the +/-band spans at most 3), equi-joins on
    (user, bucket), applies the exact band predicate, and finishes with
    a LEFT ANTI join on the matched click ids. Candidates per click are
    bounded by the user's purchases in a 3-day span. (Orders were NOT
    used as the probe side: the fixture's events and orders occupy
    disjoint calendar ranges, which would make an order/event anti-join
    structurally total.)"""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.floor(
            F.unix_timestamp("ts") / ANTI_BAND_SECONDS
        ).alias("bucket"),
    )
    left = clicks.select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.unix_timestamp("ts") / ANTI_BAND_SECONDS).alias("b0"),
    ).withColumn(
        "bucket",
        F.explode(
            F.array(F.col("b0") - 1, F.col("b0"), F.col("b0") + 1)
        ),
    )
    matched = (
        left.join(
            purchases,
            (left.user_id == purchases.p_user)
            & (left.bucket == purchases.bucket),
        )
        .filter(
            (F.col("p_ts") >= F.col("ts") - F.expr("INTERVAL 1 DAY"))
            & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 1 DAY"))
        )
        .select("event_id")
        .distinct()
    )
    return clicks.join(matched, "event_id", "left_anti").select(
        "event_id", "user_id", "ts"
    )


@_q(
    "temporal_overlap_duration_matrix",
    """
    WITH iv AS (
      SELECT o_orderstatus AS status,
             MIN(CAST(o_orderdate AS DATE)) AS start_day,
             MAX(CAST(o_orderdate AS DATE)) AS end_day,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT a.status AS status_a, b.status AS status_b,
           CAST(a.start_day AS DATE) AS start_a,
           CAST(a.end_day AS DATE) AS end_a,
           CAST(b.start_day AS DATE) AS start_b,
           CAST(b.end_day AS DATE) AS end_b,
           GREATEST(CAST(0 AS BIGINT),
             CAST(LEAST(a.end_day, b.end_day)
                  - GREATEST(a.start_day, b.start_day) AS BIGINT) + 1)
             AS overlap_days,
           CAST(a.end_day - a.start_day AS BIGINT) + 1 AS span_a_days,
           CAST(b.end_day - b.start_day AS BIGINT) + 1 AS span_b_days
    FROM iv a JOIN iv b ON a.status < b.status
    """,
)
def temporal_overlap_duration_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise overlap DURATION matrix between per-status activity
    intervals — the quantitative sibling of the graded Allen-relation
    census (that entry names the relation; this one measures the shared
    days). Intervals are [min, max] order date per status; overlap =
    max(0, min(ends) - max(starts) + 1) in exact epoch-day arithmetic
    (inclusive-day convention documented by the +1). The matrix joins
    the k-row interval table against itself on the strict status order
    — bounded by the status vocabulary, never by data rows."""
    iv = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.min("o_orderdate").alias("start_day"),
            F.max("o_orderdate").alias("end_day"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
    )
    a = iv.alias("a")
    b = iv.alias("b")
    overlap = F.greatest(
        F.lit(0).cast("bigint"),
        F.datediff(
            F.least(F.col("a.end_day"), F.col("b.end_day")),
            F.greatest(F.col("a.start_day"), F.col("b.start_day")),
        ).cast("bigint")
        + 1,
    )
    return a.join(b, F.col("a.status") < F.col("b.status")).select(
        F.col("a.status").alias("status_a"),
        F.col("b.status").alias("status_b"),
        F.col("a.start_day").cast("date").alias("start_a"),
        F.col("a.end_day").cast("date").alias("end_a"),
        F.col("b.start_day").cast("date").alias("start_b"),
        F.col("b.end_day").cast("date").alias("end_b"),
        overlap.alias("overlap_days"),
        (
            F.datediff(F.col("a.end_day"), F.col("a.start_day")).cast(
                "bigint"
            )
            + 1
        ).alias("span_a_days"),
        (
            F.datediff(F.col("b.end_day"), F.col("b.start_day")).cast(
                "bigint"
            )
            + 1
        ).alias("span_b_days"),
    )


@_q(
    "temporal_gap_islands_coverage",
    """
    WITH du AS (
      SELECT DISTINCT o_orderstatus AS status,
             CAST(o_orderdate AS DATE) AS day
      FROM orders
    ), flagged AS (
      SELECT status, day,
             CASE WHEN day - LAG(day) OVER w > 30 THEN 1 ELSE 0 END
               AS new_island
      FROM du
      WINDOW w AS (PARTITION BY status ORDER BY day)
    ), islands AS (
      SELECT status, day,
             CAST(SUM(new_island) OVER (PARTITION BY status ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS island_id
      FROM flagged
    ), per_island AS (
      SELECT status, island_id,
             MAX(day) - MIN(day) + 1 AS island_days
      FROM islands GROUP BY status, island_id
    ), span AS (
      SELECT status,
             MAX(day) - MIN(day) + 1 AS span_days,
             CAST(COUNT(*) AS BIGINT) AS n_active_days
      FROM du GROUP BY status
    )
    SELECT s.status,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(p.island_days) AS BIGINT) AS covered_days,
           CAST(s.span_days AS BIGINT) AS span_days,
           s.n_active_days,
           CAST(SUM(p.island_days) AS DOUBLE)
           / CAST(s.span_days AS DOUBLE) AS coverage_share
    FROM per_island p JOIN span s ON s.status = p.status
    GROUP BY s.status, s.span_days, s.n_active_days
    """,
)
def temporal_gap_islands_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-status activity coverage: distinct order days split into
    islands wherever the gap exceeds 30 days, then covered days (sum
    of island extents, gaps <= 30 days bridged) over the status's full
    span — the interval-union arithmetic that tells dormant-but-alive
    feeds (few long islands, high coverage) from burst-and-vanish ones
    (many short islands). Classic gaps-and-islands: one lag flag, one
    running sum for island ids, exact epoch-day integer arithmetic
    throughout, ONE division per status. span_days >= 1 structurally
    (any status present has >= 1 day). Scale: everything after the
    distinct is bounded by |status| x |days|."""
    du = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderstatus").alias("status"),
            F.to_date("o_orderdate").alias("day"),
        )
        .distinct()
    )

    du = materialize_reduced(du)  # |status| x |days| rows, read 3x below
    w = Window.partitionBy("status").orderBy("day")
    flagged = du.select(
        "status",
        "day",
        F.when(
            F.datediff(F.col("day"), F.lag("day").over(w)) > 30, 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "status",
        "day",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("island_id"),
    )
    per_island = islands.groupBy("status", "island_id").agg(
        (F.datediff(F.max("day"), F.min("day")) + 1).alias("island_days")
    )
    span = du.groupBy("status").agg(
        (F.datediff(F.max("day"), F.min("day")) + 1).alias("span_days"),
        F.count("*").cast("bigint").alias("n_active_days"),
    )
    return (
        per_island.join(F.broadcast(span), "status")
        .groupBy("status", "span_days", "n_active_days")
        .agg(
            F.count("*").cast("bigint").alias("n_islands"),
            F.sum("island_days").cast("bigint").alias("covered_days"),
        )
        .select(
            "status",
            "n_islands",
            "covered_days",
            F.col("span_days").cast("bigint").alias("span_days"),
            "n_active_days",
            (
                F.col("covered_days").cast("double")
                / F.col("span_days").cast("double")
            ).alias("coverage_share"),
        )
    )


@_q(
    "temporal_business_day_share",
    """
    WITH keyed AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CASE WHEN (CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                        AS BIGINT) + 3) % 7 >= 5
                  THEN 1 ELSE 0 END AS is_weekend
      FROM orders
    )
    SELECT month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(is_weekend) AS BIGINT) AS weekend_orders,
           CAST(COUNT(*) - SUM(is_weekend) AS BIGINT) AS weekday_orders,
           CAST(COUNT(*) - SUM(is_weekend) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS business_day_share
    FROM keyed GROUP BY month
    """,
)
def temporal_business_day_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly weekday-vs-weekend order split — the calendar-sanity
    screen for the 1995-2001 span (a B2B feed should run ~5/7 weekday
    mass every month; a month that doesn't has a timezone or
    batch-date bug): the portable epoch-day dow ((epoch_day + 3) % 7
    >= 5 — the events_weekend_lift convention), exact integer counts,
    one division per month (n_orders > 0 structurally per month
    present). One month rollup, |months| rows."""
    keyed = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        F.when(
            (F.unix_date(F.to_date("o_orderdate")) + 3) % 7 >= 5, 1
        )
        .otherwise(0)
        .alias("is_weekend"),
    )
    return keyed.groupBy("month").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("is_weekend").cast("bigint").alias("weekend_orders"),
        (F.count("*") - F.sum("is_weekend"))
        .cast("bigint")
        .alias("weekday_orders"),
        (
            (F.count("*") - F.sum("is_weekend")).cast("double")
            / F.count("*").cast("double")
        ).alias("business_day_share"),
    )


# --- round 14: staleness economics of the as-of join ----------------------


@_q(
    "temporal_asof_staleness_profile",
    """
    WITH matched AS (
      {asof}
    ), st AS (
      SELECT (epoch_us(ts) - epoch_us(CAST(matched_orderdate
               AS TIMESTAMP))) // 3600000000 AS staleness_hours
      FROM matched WHERE matched_orderkey IS NOT NULL
    ), per AS (
      SELECT staleness_hours, CAST(COUNT(*) AS BIGINT) AS c
      FROM st GROUP BY staleness_hours
    ), cum AS (
      SELECT staleness_hours,
             SUM(c) OVER (ORDER BY staleness_hours
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
      FROM per
    ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_matched FROM per),
    med AS (
      SELECT MIN(staleness_hours) AS median_staleness_hours
      FROM cum CROSS JOIN tot WHERE cumc >= (tot.n_matched + 1) // 2
    ), unm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_unmatched
      FROM matched WHERE matched_orderkey IS NULL
    )
    SELECT per.staleness_hours // 24 AS staleness_days,
           CAST(SUM(per.c) AS BIGINT) AS n_events,
           med.median_staleness_hours,
           unm.n_unmatched
    FROM per CROSS JOIN med CROSS JOIN unm
    GROUP BY 1, med.median_staleness_hours, unm.n_unmatched
    """,
)
def temporal_asof_staleness_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution of event-to-matched-order staleness from the graded
    as-of join — the table that prices a TTL choice (ROADMAP_r14 #43:
    how stale is the dimension row an event actually joins to?).
    Staleness floors to exact integer hours on the micros lattice
    (both inputs non-negative-ordered by the as-of contract, so // and
    div agree); the TYPE-1 median runs on the hour-grain per-value
    table, while histogram rows roll up to DAY grain — the fixture's
    orders (1995-2001) and events (2024) are calendar-disjoint by
    contract, so hour-grain rows would explode the output without
    adding signal (documented deviation from the ROADMAP sketch).
    Unmatched events are counted, not silently dropped."""
    matched = QUERIES["asof_join_latest_order"](spark, sf_dir)
    matched = materialize_reduced(matched)
    st = matched.filter(F.col("matched_orderkey").isNotNull()).select(
        (
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("matched_orderdate").cast("timestamp"))
            )
            .cast("bigint")
            .alias("us")
        )
    ).select(F.expr("us div 3600000000").alias("staleness_hours"))
    per = st.groupBy("staleness_hours").agg(
        F.count("*").cast("bigint").alias("c")
    )
    per = materialize_reduced(per)
    w = Window.orderBy("staleness_hours").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per.select("staleness_hours", F.sum("c").over(w).alias("cumc"))
    tot = per.agg(F.sum("c").cast("bigint").alias("n_matched"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cumc") >= F.expr("(n_matched + 1) div 2"))
        .agg(F.min("staleness_hours").alias("median_staleness_hours"))
    )
    unm = matched.filter(F.col("matched_orderkey").isNull()).agg(
        F.count("*").cast("bigint").alias("n_unmatched")
    )
    return (
        per.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(unm))
        .groupBy(
            F.expr("staleness_hours div 24").alias("staleness_days"),
            "median_staleness_hours",
            "n_unmatched",
        )
        .agg(F.sum("c").cast("bigint").alias("n_events"))
        .select(
            "staleness_days",
            "n_events",
            "median_staleness_hours",
            "n_unmatched",
        )
    )


ORACLES["temporal_asof_staleness_profile"] = ORACLES[
    "temporal_asof_staleness_profile"
].format(asof=ORACLES["asof_join_latest_order"])


# --- round 15 wave-1 pre-build: order inter-arrival cadence ----------------


@_q(
    "temporal_order_interarrival_profile",
    """
    WITH o AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE) AS d,
             CAST(o_orderkey AS BIGINT) AS k
      FROM orders
    ), gaps AS (
      SELECT o_custkey,
             date_diff('day',
               LAG(d) OVER (PARTITION BY o_custkey ORDER BY d, k), d)
               AS gap_days
      FROM o
    ), gg AS (
      SELECT CAST(gap_days AS BIGINT) AS gap_days FROM gaps
      WHERE gap_days IS NOT NULL
    ), per AS (
      SELECT gap_days, CAST(COUNT(*) AS BIGINT) AS c
      FROM gg GROUP BY gap_days
    ), cum AS (
      SELECT gap_days,
             SUM(c) OVER (ORDER BY gap_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
      FROM per
    ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_gaps_total FROM per),
    med AS (
      SELECT MIN(gap_days) AS median_gap_days
      FROM cum CROSS JOIN tot WHERE cumc >= (tot.n_gaps_total + 1) // 2
    )
    SELECT LEAST(per.gap_days // 30, 24) AS gap_months_capped,
           CAST(SUM(per.c) AS BIGINT) AS n_gaps,
           med.median_gap_days,
           tot.n_gaps_total
    FROM per CROSS JOIN med CROSS JOIN tot
    GROUP BY 1, med.median_gap_days, tot.n_gaps_total
    """,
)
def temporal_order_interarrival_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-customer order inter-arrival cadence over the 1995-2001
    span — the commerce twin of events_repeat_purchase_interval at
    date grain: consecutive-order gaps in exact integer days (lag
    over (o_orderdate, o_orderkey) pins same-day ties), a 30-day-
    bucket histogram capped at 24 months (bounded 25-row output), and
    the TYPE-1 median gap via per-value counts, repeated per row from
    a 1-row broadcast (the staleness-profile shape). Single-order
    customers contribute no gap. Gaps are non-negative so DuckDB //
    and Spark div agree; one customer shuffle + bounded day-grain
    rollups."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.col("o_orderkey").cast("bigint").alias("k"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "k")
    gaps = o.select(
        F.datediff(F.col("d"), F.lag("d").over(w)).alias("gap_days")
    )
    gg = gaps.filter(F.col("gap_days").isNotNull()).select(
        F.col("gap_days").cast("bigint").alias("gap_days")
    )
    per = gg.groupBy("gap_days").agg(
        F.count("*").cast("bigint").alias("c")
    )
    per = materialize_reduced(per)
    cw = Window.orderBy("gap_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per.select("gap_days", F.sum("c").over(cw).alias("cumc"))
    tot = per.agg(F.sum("c").cast("bigint").alias("n_gaps_total"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(
            F.col("cumc") >= F.expr("(n_gaps_total + 1) div 2")
        )
        .agg(F.min("gap_days").alias("median_gap_days"))
    )
    return (
        per.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(tot))
        .groupBy(
            F.least(F.expr("gap_days div 30"), F.lit(24)).alias(
                "gap_months_capped"
            ),
            "median_gap_days",
            "n_gaps_total",
        )
        .agg(F.sum("c").cast("bigint").alias("n_gaps"))
        .select(
            "gap_months_capped", "n_gaps", "median_gap_days", "n_gaps_total"
        )
    )


# --- round 16 wave-1 pre-build: month-end revenue effect --------------------


@_q(
    "temporal_month_end_effect",
    """
    WITH o AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), per AS (
      SELECT CAST(DATE_TRUNC('month', d) AS DATE) AS month,
             CAST(EXTRACT(day FROM last_day(d)) AS BIGINT)
               AS n_days_in_month,
             CAST(SUM(cents) AS BIGINT) AS total_cents,
             CAST(SUM(CASE WHEN d >= last_day(d) - 2 THEN cents
                  ELSE 0 END) AS BIGINT) AS last3_cents
      FROM o GROUP BY 1, 2
    )
    SELECT month, n_days_in_month, total_cents, last3_cents,
           CASE WHEN total_cents > 0 THEN
             CAST(last3_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
           END AS last3_share,
           3.0 / CAST(n_days_in_month AS DOUBLE) AS uniform_share,
           CASE WHEN total_cents > 0 THEN
             CAST(last3_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
             - 3.0 / CAST(n_days_in_month AS DOUBLE)
           END AS excess_share
    FROM per
    """,
)
def temporal_month_end_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end revenue concentration (ROADMAP_r16 #29): per month,
    the share of revenue landing in the last 3 CALENDAR days vs the
    uniform baseline 3/days_in_month — the fiscal-calendar artifact
    screen (quota-driven feeds bulge at month end; a flat series
    reads excess ~ 0). The last-3 gate is pure date arithmetic
    (d >= last_day(d) - 2, identical in both engines; February and
    leap years fall out of last_day, no hand-rolled calendars), sums
    are exact BIGINT cents, and the two shares are guarded divisions
    (days_in_month >= 28 makes the baseline structurally nonzero).
    One month rollup, |months| output rows, DATE emitted at
    source."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
    )
    in_last3 = F.col("d") >= F.date_sub(F.last_day(F.col("d")), 2)
    per = o.groupBy(
        F.trunc(F.col("d"), "month").alias("month"),
        F.dayofmonth(F.last_day(F.col("d")))
        .cast("bigint")
        .alias("n_days_in_month"),
    ).agg(
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(F.when(in_last3, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("last3_cents"),
    )
    share = F.col("last3_cents").cast("double") / F.col(
        "total_cents"
    ).cast("double")
    uniform = F.lit(3.0) / F.col("n_days_in_month").cast("double")
    return per.select(
        "month",
        "n_days_in_month",
        "total_cents",
        "last3_cents",
        F.when(F.col("total_cents") > 0, share).alias("last3_share"),
        uniform.alias("uniform_share"),
        F.when(F.col("total_cents") > 0, share - uniform).alias(
            "excess_share"
        ),
    )
