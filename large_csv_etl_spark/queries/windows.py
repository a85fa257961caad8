"""Window functions (§2b): rank/row_number/lag/lead, running sums, frames,
top-k per group.

Determinism: every window ORDER BY includes a unique tie-breaker key, so
row_number/lag/frames are well-defined; windowed sums go through the
DECIMAL trick (helpers.py) so cumulative float error can't diverge from the
oracle. At scale, each window is one shuffle on its partition key — the
partition keys here (custkey) are high-cardinality and unskewed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from .helpers import DEC, dsum, materialize_reduced, registry, sql_dsum

QUERIES, ORACLES, _q = registry()


@_q(
    "window_topk_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the scalable top-k-per-group idiom
    (window + filter; no global sort, no collect)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@_q(
    "window_running_spend",
    f"""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend
    FROM orders
    """,
)
def window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) sum per customer over order time."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias(
            "running_spend"
        ),
    )


@_q(
    "window_lag_lead_delta",
    """
    SELECT o_custkey, o_orderkey,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           o_totalprice - COALESCE(LAG(o_totalprice) OVER w, o_totalprice)
             AS price_delta
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead neighbors within a customer's order history."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    df = load_table(spark, sf_dir, "orders")
    prev = F.lag("o_totalprice").over(w)
    return df.select(
        "o_custkey",
        "o_orderkey",
        prev.alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (F.col("o_totalprice") - F.coalesce(prev, F.col("o_totalprice"))).alias(
            "price_delta"
        ),
    )


@_q(
    "window_rank_variants",
    """
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           RANK() OVER w AS price_rank,
           DENSE_RANK() OVER w AS price_dense_rank,
           NTILE(4) OVER w AS price_quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile in one pass (shared window spec)."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.ntile(4).over(w).alias("price_quartile"),
    )


@_q(
    "window_moving_avg_frame",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) OVER w AS DOUBLE)
             / COUNT(o_totalprice) OVER w AS moving_avg_3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def window_moving_avg_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded ROWS frame: 3-order moving average (decimal-sum / count so
    the sliding-window accumulation matches the oracle exactly)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double")
            / F.count("o_totalprice").over(w)
        ).alias("moving_avg_3"),
    )


@_q(
    "window_distribution_functions",
    """
    SELECT o_orderkey, o_orderpriority,
           NTILE(4) OVER w AS price_quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_distribution_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist)
    per priority group — deterministic because the ORDER BY carries the
    unique o_orderkey tie-breaker."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@_q(
    "window_first_last_value",
    """
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey) OVER w AS latest_order,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value with an explicit full-partition frame (the
    default frame ends at CURRENT ROW, which silently makes last_value a
    no-op — the classic window-frame trap, pinned here)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("latest_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


@_q(
    "window_range_frame_sum",
    """
    SELECT o_orderkey, o_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4)))
                OVER (ORDER BY o_totalprice
                      RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS nearby_price_sum
    FROM orders
    """,
)
def window_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based bounds): sum of all order totals within
    10k below the current price. Unlike ROWS frames, ties share a frame,
    so the result is deterministic without a tie-breaker; the decimal
    trick keeps the windowed sum exact cross-engine."""
    w = Window.orderBy("o_totalprice").rangeBetween(-10000, Window.currentRow)
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.sum(F.col("o_totalprice").cast(DEC))
        .over(w)
        .cast("double")
        .alias("nearby_price_sum"),
    )


@_q(
    "window_month_over_month",
    f"""
    WITH monthly AS (
      SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month,
             {sql_dsum('o_totalprice')} AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           revenue - LAG(revenue) OVER (ORDER BY month) AS mom_delta,
           (revenue - LAG(revenue) OVER (ORDER BY month))
             / LAG(revenue) OVER (ORDER BY month) AS mom_pct
    FROM monthly
    """,
)
def window_month_over_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period: monthly revenue with absolute and relative
    month-over-month change. The lag runs on the |months|-row aggregate
    (a single-partition window over a tiny series — fine at any corpus
    size because the agg reduced first); delta and pct are single IEEE
    ops on exact-decimal-derived doubles."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(dsum("o_totalprice").alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        (F.col("revenue") - prev).alias("mom_delta"),
        ((F.col("revenue") - prev) / prev).alias("mom_pct"),
    )


@_q(
    "window_topk_with_ties",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, price_rank
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(DENSE_RANK() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC
             ) AS BIGINT) AS price_rank
      FROM orders
    )
    WHERE price_rank <= 3
    """,
)
def window_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 order VALUES per customer with ties kept — the WITH TIES
    variant of window_topk_orders_per_customer's row_number form (two
    orders at the same third-best price both survive; row_number would
    arbitrarily drop one and need an explicit tie-break to stay
    deterministic). dense_rank makes the result set a pure function of
    the data. Same single user-key shuffle; Spark's WindowGroupLimit
    pushes the rank<=3 filter into the window sort at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.dense_rank().over(w).cast("bigint").alias("price_rank"),
        )
        .filter(F.col("price_rank") <= 3)
    )


@_q(
    "window_max_drawdown",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), curve AS (
      SELECT day, cents,
             CAST(MAX(cents) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS peak
      FROM daily
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(peak - cents) AS BIGINT) AS max_drawdown_cents,
           CAST(MAX(CASE WHEN peak > 0
                         THEN CAST(round(1000000000.0 * (peak - cents)
                                         / peak) AS BIGINT) END) AS DOUBLE)
             / 1000000000.0 AS max_drawdown_share,
           CAST(MAX(cents) AS BIGINT) AS peak_day_cents,
           CAST(MIN(cents) AS BIGINT) AS trough_day_cents
    FROM curve
    """,
)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily-revenue curve — running peak minus
    current value, the standard worst-decline summary for any monitored
    time series (revenue, throughput, token yield); alerting on
    drawdown-vs-peak catches slow regressions a pointwise z-score
    misses. The curve is exact BIGINT cents; the running MAX is an
    order-exact window (no float accumulation at all); the relative
    drawdown snaps each day's ratio to 1e-9 fixed point BEFORE the MAX
    so the cross-engine value is bit-stable. One bounded |days| series
    after one group-by shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = daily.select(
        "day", "cents", F.max("cents").over(w).cast("bigint").alias("peak")
    )
    dd = F.col("peak") - F.col("cents")
    rel_fp = F.when(
        F.col("peak") > 0,
        F.round(F.lit(1_000_000_000.0) * dd / F.col("peak")).cast("bigint"),
    )
    return curve.agg(
        F.count("*").alias("n_days"),
        F.max(dd).cast("bigint").alias("max_drawdown_cents"),
        (F.max(rel_fp).cast("double") / F.lit(1_000_000_000.0)).alias(
            "max_drawdown_share"
        ),
        F.max("cents").cast("bigint").alias("peak_day_cents"),
        F.min("cents").cast("bigint").alias("trough_day_cents"),
    )


@_q(
    "window_pareto_frontier",
    """
    WITH daily AS (
      SELECT o_orderpriority,
             CAST(o_orderdate AS DATE) AS day,
             MAX(o_totalprice) AS day_max_price,
             COUNT(*) AS n_orders
      FROM orders
      GROUP BY 1, 2
    ), run AS (
      SELECT o_orderpriority, day, day_max_price, n_orders,
             MAX(day_max_price) OVER (
               PARTITION BY o_orderpriority ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_max
      FROM daily
    )
    SELECT o_orderpriority, day,
           day_max_price AS frontier_price,
           CAST(n_orders AS BIGINT) AS n_orders
    FROM run
    WHERE prev_max IS NULL OR day_max_price > prev_max
    """,
)
def window_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline) per order priority: the
    record-breaking days — (day, price) points not dominated by any
    earlier-or-equal day with an equal-or-higher price. The classic
    skyline operator reduced to O(n log n): collapse to one point per
    (group, day) first (a map-side-combinable MAX), then a single
    running-max window pass keeps exactly the strictly-increasing
    envelope — no dominance self-join, no all-pairs work, which is what
    makes the skyline tractable at 100 TB (the window runs over the
    |groups x days| reduced table, bounded by the calendar). Ties pinned:
    equal-price later days are dominated (strict > keeps the earliest)."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority", F.to_date("o_orderdate").alias("day")
        )
        .agg(
            F.max("o_totalprice").alias("day_max_price"),
            F.count("*").alias("n_orders"),
        )
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        daily.withColumn("prev_max", F.max("day_max_price").over(w))
        .filter(
            F.col("prev_max").isNull()
            | (F.col("day_max_price") > F.col("prev_max"))
        )
        .select(
            "o_orderpriority",
            "day",
            F.col("day_max_price").alias("frontier_price"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
        )
    )


def _decayed_terms() -> tuple[str, str]:
    """The 16 dyadic-weight terms of the bounded decayed average, emitted
    as SQL text (shared between the oracle and an F.expr twin would risk
    drift; the Spark side builds the same sum from F.lag instead)."""
    num, den = [], []
    for k in range(16):
        w = 1 << (15 - k)
        lag = f"LAG(v_fp, {k}) OVER w" if k else "v_fp"
        num.append(f"COALESCE({lag} * {w}, 0)")
        den.append(f"CASE WHEN {lag} IS NOT NULL THEN {w} ELSE 0 END")
    return " + ".join(num), " + ".join(den)


_DECAYED_NUM, _DECAYED_DEN = _decayed_terms()


@_q(
    "window_decayed_average",
    f"""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    fp AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
      FROM ev
    ), terms AS (
      SELECT user_id, ts, event_id,
             {_DECAYED_NUM} AS num,
             {_DECAYED_DEN} AS den
      FROM fp
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, ts, event_id,
           CAST(num AS DOUBLE) / (CAST(den AS DOUBLE) * 1000000.0)
             AS decayed_avg
    FROM terms
    """,
)
def window_decayed_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed trailing average (alpha = 1/2, 16-term
    horizon) of each user's event values — the EMA smoother behind
    trend/anomaly features, in a deterministic windowed form: the true
    EMA recurrence is not expressible as a frame aggregate, but with
    dyadic weights the 16-term truncation is EXACT integer arithmetic —
    each value snaps to 1e-6 fixed point (round(), half-away-from-zero
    in both engines), lag k carries weight 2^(15-k), and the weighted
    sum stays in BIGINT (|v_fp| <= ~1e9 * 2^16 per term, 16 terms <<
    2^63). Missing history (first 15 rows per user) renormalizes by the
    present-weight mass instead of zero-padding, so early rows are
    unbiased. One shuffle (user partition); the 16 LAG reads share one
    ordered window pass."""
    from ..io import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v_fp = F.round(F.col("value") * 1000000.0, 0).cast("bigint")
    fp = ev.select("user_id", "ts", "event_id", v_fp.alias("v_fp"))
    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for k in range(16):
        wt = 1 << (15 - k)
        lagged = F.col("v_fp") if k == 0 else F.lag("v_fp", k).over(w)
        num = num + F.coalesce(lagged * wt, F.lit(0))
        den = den + F.when(lagged.isNotNull(), wt).otherwise(0)
    return fp.select(
        "user_id",
        "ts",
        "event_id",
        (num.cast("double") / (den.cast("double") * 1000000.0)).alias(
            "decayed_avg"
        ),
    )


@_q(
    "window_order_gaps",
    """
    WITH seq AS (
      SELECT o_custkey, o_orderdate,
             LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey)
               AS prev_date
      FROM orders
    ), gaps AS (
      SELECT o_custkey,
             date_diff('day', CAST(prev_date AS DATE),
                       CAST(o_orderdate AS DATE)) AS gap_days
      FROM seq WHERE prev_date IS NOT NULL
    )
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_gap_days,
           CAST(SUM(gap_days) AS BIGINT) AS total_gap_days,
           CAST(SUM(gap_days) AS DOUBLE) / COUNT(*) AS avg_gap_days
    FROM gaps GROUP BY o_custkey
    """,
)
def window_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase gap statistics per customer: LAG over each
    customer's date-ordered orders yields the day gaps between
    consecutive purchases; min/max/total are exact BIGINT day counts and
    the mean is one final division — the recency-cadence feature block
    (reorder-cycle estimation, churn heuristics) next to the RFM
    segmentation. One user-keyed window pass plus a map-side-combinable
    rollup; the orderkey tie-break pins same-day order pairs (gap 0) in
    both engines."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_custkey",
        "o_orderdate",
        F.lag("o_orderdate").over(w).alias("prev_date"),
    ).filter(F.col("prev_date").isNotNull())
    gaps = seq.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"), F.to_date("prev_date")
        ).alias("gap_days"),
    )
    return gaps.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.min("gap_days").cast("bigint").alias("min_gap_days"),
        F.max("gap_days").cast("bigint").alias("max_gap_days"),
        F.sum("gap_days").cast("bigint").alias("total_gap_days"),
        (F.sum("gap_days").cast("double") / F.count("*")).alias(
            "avg_gap_days"
        ),
    )


@_q(
    "window_rolling_median_7d",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    daily AS (
      SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             COUNT(*) AS c
      FROM ev GROUP BY 1, 2
    )
    SELECT d.event_type, d.day, CAST(d.c AS BIGINT) AS n_events,
           MEDIAN(w.c) AS rolling_median_7d,
           CAST(COUNT(w.c) AS BIGINT) AS n_days_in_window
    FROM daily d
    JOIN daily w
      ON w.event_type = d.event_type
     AND w.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.event_type, d.day, d.c
    """,
)
def window_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day exact median of daily event counts per type — the
    robust trend smoother (a single spike day moves a rolling mean but
    not the median; the z-score anomaly entries flag points, this
    produces the robust baseline they compare against). Spark refuses
    exact ``median`` with a window FRAME (sketchless exact medians
    aren't incrementally maintainable), so the trailing window is
    expressed as a bounded self-join over the |types x days| REDUCED
    table (<= 7 partner rows per row — the join is the frame) feeding
    the exact group-aggregate median, whose interpolation parity is
    already pinned by quantiles_exact. Work is |types x days| x 7
    regardless of data size."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("c"))
    d, w = daily.alias("d"), daily.alias("w")
    return (
        d.join(
            w,
            (F.col("w.event_type") == F.col("d.event_type"))
            & (F.col("w.day") >= F.date_sub(F.col("d.day"), 6))
            & (F.col("w.day") <= F.col("d.day")),
        )
        .groupBy(
            F.col("d.event_type").alias("event_type"),
            F.col("d.day").alias("day"),
            F.col("d.c").alias("c"),
        )
        .agg(
            F.median(F.col("w.c")).alias("rolling_median_7d"),
            F.count(F.col("w.c")).cast("bigint").alias("n_days_in_window"),
        )
        .select(
            "event_type",
            "day",
            F.col("c").cast("bigint").alias("n_events"),
            "rolling_median_7d",
            "n_days_in_window",
        )
    )


@_q(
    "window_kaufman_efficiency",
    """
    WITH o AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(o_totalprice AS DECIMAL(30,4)) AS price
      FROM orders
    ), daily AS (
      SELECT day, CAST(SUM(price) * 100 AS BIGINT) AS revenue_cents
      FROM o GROUP BY day
    ), seq AS (
      SELECT day, revenue_cents,
             revenue_cents - LAG(revenue_cents)
               OVER (ORDER BY day) AS dx,
             LAG(revenue_cents, 13) OVER (ORDER BY day) AS base,
             ROW_NUMBER() OVER (ORDER BY day) AS rn
      FROM daily
    ), er AS (
      SELECT day, revenue_cents,
             ABS(revenue_cents - base) AS direction_cents,
             CAST(SUM(ABS(dx)) OVER (ORDER BY day
                    ROWS BETWEEN 12 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS volatility_cents,
             rn
      FROM seq
    )
    SELECT day, revenue_cents,
           CAST(direction_cents AS BIGINT) AS direction_cents,
           volatility_cents,
           CASE WHEN volatility_cents = 0 THEN 0e0
                ELSE CAST(direction_cents AS DOUBLE) / volatility_cents
           END AS efficiency_ratio
    FROM er WHERE rn >= 14
    """,
)
def window_kaufman_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaufman efficiency ratio of the daily revenue series — the
    trend-vs-chop diagnostic behind adaptive moving averages: over each
    trailing 14-observation window, net movement |x_t - x_{t-13}|
    divided by the path length sum(|x_i - x_{i-1}|); ~1 means a clean
    trend, ~0 mean-reverting noise. The series is integer CENTS (exact
    decimal day sums scaled by 100), so every lag, difference, and
    rolling sum is exact BIGINT arithmetic and the single float op is
    the final ratio — the round-7 exactness discipline applied to a
    frame-window operator. The day series is |days|-bounded after one
    map-side-combinable scan; the unpartitioned ORDER BY day window is
    safe because the reduced series is tiny at any corpus scale (shard
    by calendar year first if it ever were not)."""
    daily = daily_revenue_cents(spark, sf_dir)
    wday = Window.orderBy("day")
    seq = daily.select(
        "day",
        "revenue_cents",
        (
            F.col("revenue_cents")
            - F.lag("revenue_cents").over(wday)
        ).alias("dx"),
        F.lag("revenue_cents", 13).over(wday).alias("base"),
        F.row_number().over(wday).alias("rn"),
    )
    er = seq.select(
        "day",
        "revenue_cents",
        F.abs(F.col("revenue_cents") - F.col("base")).alias(
            "direction_cents"
        ),
        F.sum(F.abs("dx"))
        .over(wday.rowsBetween(-12, 0))
        .cast("bigint")
        .alias("volatility_cents"),
        "rn",
    )
    return er.filter(F.col("rn") >= 14).select(
        "day",
        "revenue_cents",
        F.col("direction_cents").cast("bigint").alias("direction_cents"),
        "volatility_cents",
        F.when(F.col("volatility_cents") == 0, F.lit(0.0))
        .otherwise(
            F.col("direction_cents").cast("double")
            / F.col("volatility_cents")
        )
        .alias("efficiency_ratio"),
    )


@_q(
    "window_rsi_14",
    """
    WITH o AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(o_totalprice AS DECIMAL(30,4)) AS price
      FROM orders
    ), daily AS (
      SELECT day, CAST(SUM(price) * 100 AS BIGINT) AS revenue_cents
      FROM o GROUP BY day
    ), seq AS (
      SELECT day, revenue_cents,
             revenue_cents - LAG(revenue_cents) OVER (ORDER BY day) AS dx,
             ROW_NUMBER() OVER (ORDER BY day) AS rn
      FROM daily
    ), gl AS (
      SELECT day, rn,
             CAST(SUM(CASE WHEN dx > 0 THEN dx ELSE 0 END)
                  OVER (ORDER BY day
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS gain14,
             CAST(SUM(CASE WHEN dx < 0 THEN -dx ELSE 0 END)
                  OVER (ORDER BY day
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS loss14
      FROM seq
    )
    SELECT day, gain14, loss14,
           CASE WHEN gain14 + loss14 = 0 THEN 50e0
                ELSE 100e0 * gain14 / (gain14 + loss14)
           END AS rsi_14
    FROM gl WHERE rn >= 15
    """,
)
def window_rsi_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-period RSI (cumulative form) of the daily revenue series:
    trailing-window up-move and down-move sums over the integer-cents
    day deltas, RSI = 100*gains/(gains+losses) — algebraically equal to
    100 - 100/(1+RS) but computed as ONE division of exact BIGINTs (the
    two-division textbook form would compound float error and is not
    portable; flat windows pin to the neutral 50). Companion to the
    Kaufman efficiency ratio: same exact-cents series, same
    |days|-bounded frame windows, a different momentum diagnostic."""
    daily = daily_revenue_cents(spark, sf_dir)
    wday = Window.orderBy("day")
    seq = daily.select(
        "day",
        (
            F.col("revenue_cents")
            - F.lag("revenue_cents").over(wday)
        ).alias("dx"),
        F.row_number().over(wday).alias("rn"),
    )
    frame = wday.rowsBetween(-13, 0)
    gl = seq.select(
        "day",
        "rn",
        F.sum(
            F.when(F.col("dx") > 0, F.col("dx")).otherwise(0)
        )
        .over(frame)
        .cast("bigint")
        .alias("gain14"),
        F.sum(
            F.when(F.col("dx") < 0, -F.col("dx")).otherwise(0)
        )
        .over(frame)
        .cast("bigint")
        .alias("loss14"),
    )
    return gl.filter(F.col("rn") >= 15).select(
        "day",
        "gain14",
        "loss14",
        F.when(F.col("gain14") + F.col("loss14") == 0, F.lit(50.0))
        .otherwise(
            F.lit(100.0)
            * F.col("gain14")
            / (F.col("gain14") + F.col("loss14"))
        )
        .alias("rsi_14"),
    )


@_q(
    "window_turning_points",
    """
    WITH o AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(o_totalprice AS DECIMAL(30,4)) AS price
      FROM orders
    ), daily AS (
      SELECT day, CAST(SUM(price) * 100 AS BIGINT) AS revenue_cents
      FROM o GROUP BY day
    ), seq AS (
      SELECT day,
             revenue_cents - LAG(revenue_cents) OVER (ORDER BY day) AS dx,
             LEAD(revenue_cents) OVER (ORDER BY day)
               - revenue_cents AS dx_next
      FROM daily
    ), marks AS (
      SELECT CASE WHEN dx > 0 THEN 1 ELSE 0 END AS up_move,
             CASE WHEN dx < 0 THEN 1 ELSE 0 END AS down_move,
             CASE WHEN dx = 0 THEN 1 ELSE 0 END AS flat_move,
             CASE WHEN (dx > 0 AND dx_next < 0)
                    OR (dx < 0 AND dx_next > 0) THEN 1 ELSE 0 END AS turn
      FROM seq WHERE dx IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_moves,
           CAST(SUM(up_move) AS BIGINT) AS n_up,
           CAST(SUM(down_move) AS BIGINT) AS n_down,
           CAST(SUM(flat_move) AS BIGINT) AS n_flat,
           CAST(SUM(turn) AS BIGINT) AS n_turning_points,
           CAST(SUM(turn) AS DOUBLE) / COUNT(*) AS turn_rate
    FROM marks
    """,
)
def window_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point census of the daily revenue series — the
    nonparametric randomness test (a pure i.i.d. series turns at ~2/3 of
    interior points; trending series turn far less, oscillating ones
    more): sign changes between consecutive exact-cents day deltas,
    counted with pure integer comparisons. Third member of the
    exact-cents series family (Kaufman ER, RSI): same one-scan day
    reduction, two window lags, and a 6-column single-row census whose
    only float op is the final rate division."""
    daily = daily_revenue_cents(spark, sf_dir)
    wday = Window.orderBy("day")
    seq = daily.select(
        (
            F.col("revenue_cents")
            - F.lag("revenue_cents").over(wday)
        ).alias("dx"),
        (
            F.lead("revenue_cents").over(wday)
            - F.col("revenue_cents")
        ).alias("dx_next"),
    ).filter(F.col("dx").isNotNull())
    up = F.when(F.col("dx") > 0, 1).otherwise(0)
    down = F.when(F.col("dx") < 0, 1).otherwise(0)
    flat = F.when(F.col("dx") == 0, 1).otherwise(0)
    turn = F.when(
        ((F.col("dx") > 0) & (F.col("dx_next") < 0))
        | ((F.col("dx") < 0) & (F.col("dx_next") > 0)),
        1,
    ).otherwise(0)
    return seq.agg(
        F.count("*").cast("bigint").alias("n_moves"),
        F.sum(up).cast("bigint").alias("n_up"),
        F.sum(down).cast("bigint").alias("n_down"),
        F.sum(flat).cast("bigint").alias("n_flat"),
        F.sum(turn).cast("bigint").alias("n_turning_points"),
        (F.sum(turn).cast("double") / F.count("*")).alias("turn_rate"),
    )


@_q(
    "window_sma_crossover",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY day
    ), w AS (
      SELECT day, cents,
             ROW_NUMBER() OVER (ORDER BY day) AS rn,
             SUM(cents) OVER (ORDER BY day
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS fast_sum,
             SUM(cents) OVER (ORDER BY day
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS slow_sum
      FROM daily
    ), state AS (
      SELECT day, fast_sum, slow_sum,
             CASE WHEN fast_sum * 20 > slow_sum * 5 THEN 1 ELSE 0 END
               AS fast_above,
             LAG(CASE WHEN fast_sum * 20 > slow_sum * 5 THEN 1 ELSE 0 END)
               OVER (ORDER BY day) AS prev_above
      FROM w WHERE rn >= 20
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CASE WHEN fast_above = 1 THEN 'golden' ELSE 'death' END
             AS crossover,
           CAST(fast_sum AS BIGINT) AS fast_sum,
           CAST(slow_sum AS BIGINT) AS slow_sum
    FROM state
    WHERE prev_above IS NOT NULL AND fast_above <> prev_above
    ORDER BY day
    """,
)
def window_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover signals (golden/death cross) on the
    daily-revenue series — the trend-change detector that completes the
    momentum family (RSI, Kaufman efficiency, turning points): a 5-day
    fast window against a 20-day slow window, compared WITHOUT division
    by cross-multiplying the exact integer-cents sums (fast*20 vs
    slow*5), so the above/below state is pure BIGINT comparison and a
    crossover is a LAG state flip. Only days with a full slow window
    qualify (row 20 onward). All windows run over the calendar-bounded
    daily table after one map-side-combinable aggregation — the single-
    partition window is |days| rows at any data scale."""
    daily = daily_cents(spark, sf_dir)
    wd = Window.orderBy("day")
    w = daily.select(
        "day",
        F.row_number().over(wd).alias("rn"),
        F.sum("cents").over(wd.rowsBetween(-4, 0)).alias("fast_sum"),
        F.sum("cents").over(wd.rowsBetween(-19, 0)).alias("slow_sum"),
    )
    above = F.when(
        F.col("fast_sum") * 20 > F.col("slow_sum") * 5, 1
    ).otherwise(0)
    state = w.filter(F.col("rn") >= 20).select(
        "day",
        "fast_sum",
        "slow_sum",
        above.alias("fast_above"),
        F.lag(above).over(Window.orderBy("day")).alias("prev_above"),
    )
    return (
        state.filter(
            F.col("prev_above").isNotNull()
            & (F.col("fast_above") != F.col("prev_above"))
        )
        .select(
            F.col("day").cast("timestamp").alias("day"),
            F.when(F.col("fast_above") == 1, "golden")
            .otherwise("death")
            .alias("crossover"),
            F.col("fast_sum").cast("bigint").alias("fast_sum"),
            F.col("slow_sum").cast("bigint").alias("slow_sum"),
        )
        .orderBy("day")
    )


# --- round-11 wave-2 time-series windows (docs/ROADMAP_r11.md #9-#14) ------
# Shared contract: rolling moments accumulate as BIGINT cents/days inside
# the frame (a float frame-SUM is partition-order dependent — the round-10
# Kruskal-Wallis hazard applied to frames); floats appear only in the final
# per-row expression, one fixed IEEE chain on both engine sides.


@_q(
    "window_bollinger_breakout",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS dollars
      FROM orders GROUP BY 1
    ), frames AS (
      SELECT day, dollars,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_frame,
             CAST(SUM(dollars) OVER w AS BIGINT) AS s1,
             CAST(SUM(dollars * dollars) OVER w AS BIGINT) AS s2
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT day, dollars, n_frame,
           CAST(s1 AS DOUBLE) / CAST(n_frame AS DOUBLE) AS sma,
           CASE WHEN n_frame = 20 THEN
             SQRT((CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / CAST(n_frame AS DOUBLE))
                  / (CAST(n_frame AS DOUBLE) - 1.0)) END AS sd,
           CASE WHEN n_frame = 20 THEN
             CAST(dollars AS DOUBLE)
             > CAST(s1 AS DOUBLE) / CAST(n_frame AS DOUBLE)
               + 2.0 * SQRT((CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / CAST(n_frame AS DOUBLE))
                  / (CAST(n_frame AS DOUBLE) - 1.0))
             END AS breakout_up,
           CASE WHEN n_frame = 20 THEN
             CAST(dollars AS DOUBLE)
             < CAST(s1 AS DOUBLE) / CAST(n_frame AS DOUBLE)
               - 2.0 * SQRT((CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / CAST(n_frame AS DOUBLE))
                  / (CAST(n_frame AS DOUBLE) - 1.0))
             END AS breakout_down
    FROM frames
    """,
)
def window_bollinger_breakout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the daily-revenue series: 20-day SMA +/- 2
    sample stddevs, with breakout flags for days piercing a band. The
    rolling first and second moments are EXACT INTEGER window sums over
    the frame (the integer-moment rule: a float frame-SUM inherits the
    partition-order hazard). The series is integer DOLLARS, not cents —
    the round-11 overflow lesson: daily cents at sf0.1 reach ~1e9,
    whose squares x 20 days exceed 2^63 and ANSI Spark raises where
    DuckDB's HUGEINT sums silently keep going. Dollar-grain moments
    hold to ~3e8 dollars/day; beyond that route s2 through
    DECIMAL(38,0). Bands/flags emit only on complete 20-day frames; one
    shuffle to the |days|-bounded series, one ordered window pass."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice"), 0).cast("bigint"))
            .cast("bigint")
            .alias("dollars")
        )
    )
    w = Window.orderBy("day").rowsBetween(-19, 0)
    c = F.col("dollars")
    frames = daily.select(
        "day",
        "dollars",
        F.count("*").over(w).cast("bigint").alias("n_frame"),
        F.sum(c).over(w).cast("bigint").alias("s1"),
        F.sum(c * c).over(w).cast("bigint").alias("s2"),
    )
    nd = F.col("n_frame").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    sma = s1d / nd
    sd = F.sqrt((s2d - s1d * s1d / nd) / (nd - 1.0))
    full = F.col("n_frame") == 20
    price = F.col("dollars").cast("double")
    return frames.select(
        "day",
        "dollars",
        "n_frame",
        sma.alias("sma"),
        F.when(full, sd).alias("sd"),
        F.when(full, price > sma + 2.0 * sd).alias("breakout_up"),
        F.when(full, price < sma - 2.0 * sd).alias("breakout_down"),
    )


@_q(
    "window_donchian_channel",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    )
    SELECT day, cents,
           CAST(MAX(cents) OVER w AS BIGINT) AS high_20,
           CAST(MIN(cents) OVER w AS BIGINT) AS low_20,
           cents > MAX(cents) OVER w AS breakout_up,
           cents < MIN(cents) OVER w AS breakout_down
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    """,
)
def window_donchian_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian 20-day high/low channel over daily revenue with breakout
    flags — the no-float twin of the Bollinger entry (min/max frames
    carry no accumulation hazard at all, so it doubles as the
    cross-check that the frame SEMANTICS agree between engines: the
    channel excludes the current row by construction, ROWS 20 PRECEDING
    .. 1 PRECEDING). First row has no channel -> NULL flags, pinned
    identically in both engines."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(-20, -1)
    hi = F.max("cents").over(w)
    lo = F.min("cents").over(w)
    return daily.select(
        "day",
        "cents",
        hi.cast("bigint").alias("high_20"),
        lo.cast("bigint").alias("low_20"),
        (F.col("cents") > hi).alias("breakout_up"),
        (F.col("cents") < lo).alias("breakout_down"),
    )


@_q(
    "window_drawup_symmetry",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), curve AS (
      SELECT day, cents,
             CAST(MAX(cents) OVER cw AS BIGINT) AS peak,
             CAST(MIN(cents) OVER cw AS BIGINT) AS trough
      FROM daily
      WINDOW cw AS (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(cents - trough) AS BIGINT) AS max_drawup_cents,
           CAST(MAX(peak - cents) AS BIGINT) AS max_drawdown_cents,
           CASE WHEN MAX(peak - cents) > 0 THEN
             CAST(MAX(cents - trough) AS DOUBLE)
             / CAST(MAX(peak - cents) AS DOUBLE) END AS updown_asymmetry
    FROM curve
    """,
)
def window_drawup_symmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawup (current minus running trough — the mirror of the
    graded max-drawdown) plus the up/down asymmetry ratio, the one-look
    summary of whether a monitored series climbs faster than it falls.
    Runs both running extrema in ONE ordered window pass over the
    |days|-bounded exact-cents curve; everything is integer until the
    final ratio division."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = daily.select(
        "cents",
        F.max("cents").over(w).cast("bigint").alias("peak"),
        F.min("cents").over(w).cast("bigint").alias("trough"),
    )
    drawup = F.col("cents") - F.col("trough")
    drawdown = F.col("peak") - F.col("cents")
    return curve.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.max(drawup).cast("bigint").alias("max_drawup_cents"),
        F.max(drawdown).cast("bigint").alias("max_drawdown_cents"),
        # a monotone-rising curve has zero drawdown: NULL ratio (total
        # under ANSI division), mirrored in the oracle
        F.when(
            F.max(drawdown) > 0,
            F.max(drawup).cast("double") / F.max(drawdown).cast("double"),
        ).alias("updown_asymmetry"),
    )


@_q(
    "window_obv_flow",
    """
    WITH seq AS (
      SELECT o_custkey AS custkey, o_orderkey, o_orderdate,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             LAG(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS prev
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)
    ), flows AS (
      SELECT custkey, o_orderkey, o_orderdate, cents,
             CASE WHEN prev IS NULL THEN 0
                  WHEN cents > prev THEN cents
                  WHEN cents < prev THEN -cents
                  ELSE 0 END AS flow
      FROM seq
    )
    SELECT custkey, o_orderkey, cents,
           CAST(flow AS BIGINT) AS flow,
           CAST(SUM(flow) OVER (PARTITION BY custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS obv
    FROM flows
    """,
)
def window_obv_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance-volume style signed cumulative flow per customer: each
    order contributes its full value, signed by whether it is larger or
    smaller than the customer's previous order (equal or first -> 0),
    and the running total is the customer's accumulation/distribution
    curve — the orders twin of the ticker indicator. Exact BIGINT
    end-to-end (sign picks, no float anywhere); one shuffle on the
    high-cardinality unskewed custkey, two window passes sharing it.
    BOTH window passes (the lag and the cumulative sum) order by the
    same (o_orderdate, o_orderkey) key on both engine sides — ADVICE
    r11 #1: the earlier o_orderkey-only cumulative order matched only
    because the fixture's orderkeys are date-monotone per customer; a
    regen without that property would silently change the indicator."""
    w = Window.partitionBy("custkey").orderBy("o_orderdate", "o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    seq = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        "o_orderdate",
        cents.alias("cents"),
    )
    seq = seq.select(
        "custkey",
        "o_orderkey",
        "o_orderdate",
        "cents",
        F.lag("cents").over(w).alias("prev"),
    )
    flow = (
        F.when(F.col("prev").isNull(), 0)
        .when(F.col("cents") > F.col("prev"), F.col("cents"))
        .when(F.col("cents") < F.col("prev"), -F.col("cents"))
        .otherwise(0)
    )
    flows = seq.select(
        "custkey", "o_orderkey", "o_orderdate", "cents", flow.alias("flow")
    )
    cw = (
        Window.partitionBy("custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flows.select(
        "custkey",
        "o_orderkey",
        "cents",
        F.col("flow").cast("bigint").alias("flow"),
        F.sum("flow").over(cw).cast("bigint").alias("obv"),
    )


@_q(
    "window_gap_zscore",
    """
    WITH seq AS (
      SELECT o_custkey AS custkey, o_orderkey,
             CAST(o_orderdate AS DATE) AS day,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day_num,
             LAG(CAST(o_orderdate AS DATE) - DATE '1970-01-01') OVER w
               AS prev_num
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)
    ), gaps AS (
      SELECT custkey, o_orderkey, day,
             CAST(day_num - prev_num AS BIGINT) AS gap_days
      FROM seq
    ), frames AS (
      SELECT custkey, o_orderkey, day, gap_days,
             CAST(COUNT(gap_days) OVER fw AS BIGINT) AS n_frame,
             CAST(SUM(gap_days) OVER fw AS BIGINT) AS s1,
             CAST(SUM(gap_days * gap_days) OVER fw AS BIGINT) AS s2
      FROM gaps
      WINDOW fw AS (PARTITION BY custkey ORDER BY o_orderkey
                    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT custkey, o_orderkey, day, gap_days, n_frame,
           CASE WHEN gap_days IS NOT NULL AND n_frame >= 3
                     AND CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                           / CAST(n_frame AS DOUBLE) > 0.0
                THEN (CAST(gap_days AS DOUBLE)
                      - CAST(s1 AS DOUBLE) / CAST(n_frame AS DOUBLE))
                     / SQRT((CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                               / CAST(n_frame AS DOUBLE))
                            / (CAST(n_frame AS DOUBLE) - 1.0))
           END AS gap_z,
           CASE WHEN gap_days IS NOT NULL AND n_frame >= 3
                     AND CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                           / CAST(n_frame AS DOUBLE) > 0.0
                THEN ABS((CAST(gap_days AS DOUBLE)
                      - CAST(s1 AS DOUBLE) / CAST(n_frame AS DOUBLE))
                     / SQRT((CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                               / CAST(n_frame AS DOUBLE))
                            / (CAST(n_frame AS DOUBLE) - 1.0))) > 2.0
           END AS cadence_break
    FROM frames
    """,
)
def window_gap_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-cadence break detector: z-score of each inter-order gap
    within customer against that customer's trailing 10-gap frame.
    Gaps are exact integer epoch DAYS; the rolling first/second moments
    are BIGINT window sums (the integer-moment rule — gaps^2 x 10 is
    tiny), and the z/flag chain is per-row IEEE with a single sqrt,
    emitted only where the frame holds >= 3 gaps with positive
    variance. One shuffle on custkey; both windows share the ordered
    pass. The first order per customer has a NULL gap and NULL z by
    construction."""
    w = Window.partitionBy("custkey").orderBy("o_orderdate", "o_orderkey")
    day_num = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
    seq = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        "o_orderdate",
        F.to_date("o_orderdate").alias("day"),
        day_num.alias("day_num"),
    )
    gaps = seq.select(
        "custkey",
        "o_orderkey",
        "day",
        (F.col("day_num") - F.lag("day_num").over(w))
        .cast("bigint")
        .alias("gap_days"),
    )
    fw = (
        Window.partitionBy("custkey")
        .orderBy("o_orderkey")
        .rowsBetween(-9, 0)
    )
    g = F.col("gap_days")
    frames = gaps.select(
        "custkey",
        "o_orderkey",
        "day",
        "gap_days",
        F.count(g).over(fw).cast("bigint").alias("n_frame"),
        F.sum(g).over(fw).cast("bigint").alias("s1"),
        F.sum(g * g).over(fw).cast("bigint").alias("s2"),
    )
    nd = F.col("n_frame").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    ss = s2d - s1d * s1d / nd
    ok = g.isNotNull() & (F.col("n_frame") >= 3) & (ss > 0.0)
    z = (g.cast("double") - s1d / nd) / F.sqrt(ss / (nd - 1.0))
    return frames.select(
        "custkey",
        "o_orderkey",
        "day",
        "gap_days",
        "n_frame",
        F.when(ok, z).alias("gap_z"),
        F.when(ok, F.abs(z) > 2.0).alias("cadence_break"),
    )


def _ema_weights(span: int, horizon: int) -> list[int]:
    """Integer EMA weights w_k = round((1-alpha)^k * 2^20), alpha =
    2/(span+1). Computed once at import into shared literals, so both
    engine sides consume identical integers and no runtime libm pow is
    involved anywhere (the round-10 non-dyadic-alpha prescription)."""
    decay = 1.0 - 2.0 / (span + 1)
    return [round(decay**k * (1 << 20)) for k in range(horizon)]


_EMA12_W = _ema_weights(12, 24)
_EMA26_W = _ema_weights(26, 40)


def _ema_sql(weights: list[int]) -> tuple[str, str]:
    num, den = [], []
    for k, wt in enumerate(weights):
        lag = f"LAG(cents, {k}) OVER w" if k else "cents"
        num.append(f"COALESCE({lag} * {wt}, 0)")
        den.append(f"CASE WHEN {lag} IS NOT NULL THEN {wt} ELSE 0 END")
    return " + ".join(num), " + ".join(den)


_E12_NUM, _E12_DEN = _ema_sql(_EMA12_W)
_E26_NUM, _E26_DEN = _ema_sql(_EMA26_W)


@_q(
    "window_ema_macd",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), terms AS (
      SELECT day, cents,
             {_E12_NUM} AS num12,
             {_E12_DEN} AS den12,
             {_E26_NUM} AS num26,
             {_E26_DEN} AS den26
      FROM daily
      WINDOW w AS (ORDER BY day)
    )
    SELECT day, cents,
           CAST(num12 AS DOUBLE) / CAST(den12 AS DOUBLE) / 100.0 AS ema12,
           CAST(num26 AS DOUBLE) / CAST(den26 AS DOUBLE) / 100.0 AS ema26,
           CAST(num12 AS DOUBLE) / CAST(den12 AS DOUBLE) / 100.0
           - CAST(num26 AS DOUBLE) / CAST(den26 AS DOUBLE) / 100.0
             AS macd
    FROM terms
    """,
)
def window_ema_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD line (EMA(12) - EMA(26)) over daily revenue via the
    bounded exponential-decay identity: each EMA is a truncated
    weighted sum of trailing LAGs whose weights are PRECOMPUTED integer
    literals round((1-alpha)^k * 2^20) — exact BIGINT accumulation,
    zero runtime float sums (the round-10 integer-weight EWMA
    prescription, non-dyadic alphas included), with present-weight-mass
    renormalization unbiasing the warm-up rows and the deterministic
    24/40-term truncation documented in the weights themselves (the
    dropped tail mass is <2% for both spans). Budget: 2^20 x 1e10
    cents x 40 terms ~ 4e17 < 2^63. One window pass over the
    |days|-bounded series; the two EMAs share it."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day")

    def ema_terms(weights: list[int]):
        num = F.lit(0).cast("bigint")
        den = F.lit(0).cast("bigint")
        for k, wt in enumerate(weights):
            lagged = F.col("cents") if k == 0 else F.lag("cents", k).over(w)
            num = num + F.coalesce(lagged * wt, F.lit(0))
            den = den + F.when(lagged.isNotNull(), wt).otherwise(0)
        return num, den

    n12, d12 = ema_terms(_EMA12_W)
    n26, d26 = ema_terms(_EMA26_W)
    terms = daily.select(
        "day",
        "cents",
        n12.alias("num12"),
        d12.alias("den12"),
        n26.alias("num26"),
        d26.alias("den26"),
    )
    e12 = F.col("num12").cast("double") / F.col("den12").cast("double") / 100.0
    e26 = F.col("num26").cast("double") / F.col("den26").cast("double") / 100.0
    return terms.select(
        "day",
        "cents",
        e12.alias("ema12"),
        e26.alias("ema26"),
        (e12 - e26).alias("macd"),
    )


# --- round 12: control charts, channel indicators, run analytics ----------


@_q(
    "agg_cusum_drift",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS k
      FROM daily
    ), p AS (
      SELECT day, n,
             SUM(n - k) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt
      FROM daily CROSS JOIN tot
    ), s AS (
      SELECT day, n, pt,
             LEAST(0, MIN(pt) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS pmin
      FROM p
    )
    SELECT day, n AS n_orders,
           CAST(pt - pmin AS BIGINT) AS cusum,
           CASE WHEN pt - pmin > 50 THEN 1 ELSE 0 END AS drift_flag
    FROM s
    """,
)
def agg_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM control chart over daily order counts. The
    textbook recursion S_t = max(0, S_{t-1} + (n_t - k)) cannot run in
    a declarative window, so it is replaced by the EQUIVALENT
    running-min identity S_t = P_t - min(0, min_{s<=t} P_s) with
    P_t = cumsum(n_t - k) — the same trick as the graded max-drawdown
    entry, verified against the recursive definition on 1000 random
    series during the round-11 prototype. Reference k is the integer
    mean daily count (exact div — no float target), threshold h = 50;
    everything is exact BIGINT over the |days|-bounded series (two
    window passes, zero data-row shuffles beyond the daily rollup)."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = daily.agg(
        F.expr("CAST(sum(n) AS BIGINT) div CAST(count(*) AS BIGINT)").alias(
            "k"
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    p = daily.crossJoin(F.broadcast(tot)).select(
        "day", "n", F.sum(F.col("n") - F.col("k")).over(w).alias("pt")
    )
    s = p.select(
        "day",
        "n",
        "pt",
        F.least(F.lit(0).cast("bigint"), F.min("pt").over(w)).alias("pmin"),
    )
    cusum = (F.col("pt") - F.col("pmin")).cast("bigint")
    return s.select(
        "day",
        F.col("n").alias("n_orders"),
        cusum.alias("cusum"),
        F.when(cusum > 50, 1).otherwise(0).alias("drift_flag"),
    )


@_q(
    "window_aroon_indicator",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), seq AS (
      SELECT day, cents,
             CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn
      FROM daily
    ), keyed AS (
      SELECT day, cents, rn,
             MAX(cents * 10000 + rn) OVER w AS hi_key,
             MIN(cents * 10000 + (9999 - rn)) OVER w AS lo_key,
             COUNT(*) OVER w AS frame_n
      FROM seq
      WINDOW w AS (ORDER BY rn ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT day, cents,
           CASE WHEN frame_n = 20
                THEN CAST((20 - (rn - hi_key % 10000)) * 5 AS BIGINT)
           END AS aroon_up,
           CASE WHEN frame_n = 20
                THEN CAST((20 - (rn - (9999 - lo_key % 10000))) * 5
                     AS BIGINT)
           END AS aroon_down
    FROM keyed
    """,
)
def window_aroon_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon up/down over the 20-day trailing window of daily revenue:
    days-since-high and days-since-low come from ONE packed integer
    ordering key per direction — max(cents*10000 + rn) recovers the
    frame's argmax position (tie -> most recent day) and
    min(cents*10000 + (9999 - rn)) the argmin under the SAME
    most-recent tie rule — so both engines decode identical positions
    with pure integer arithmetic instead of relying on engine-specific
    arg_max tie behavior. aroon = (20 - days_since) * 5 is exact
    integer [5, 100]; warm-up rows (frame < 20) are NULL. The packing
    budget (rn < 10^4, daily cents * 10^4 < 2^63) is documented for
    the |days|-bounded series this runs on; a longer series bumps the
    literal. Positions are series positions (trading-day convention),
    not calendar gaps."""
    daily = daily_cents(spark, sf_dir)
    seq = daily.select(
        "day",
        "cents",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("rn"),
    )
    w = Window.orderBy("rn").rowsBetween(-19, 0)
    keyed = seq.select(
        "day",
        "cents",
        "rn",
        F.max(F.col("cents") * 10000 + F.col("rn")).over(w).alias("hi_key"),
        F.min(F.col("cents") * 10000 + (9999 - F.col("rn")))
        .over(w)
        .alias("lo_key"),
        F.count("*").over(w).alias("frame_n"),
    )
    full = F.col("frame_n") == 20
    return keyed.select(
        "day",
        "cents",
        F.when(
            full,
            ((20 - (F.col("rn") - F.col("hi_key") % 10000)) * 5).cast(
                "bigint"
            ),
        ).alias("aroon_up"),
        F.when(
            full,
            (
                (20 - (F.col("rn") - (9999 - F.col("lo_key") % 10000))) * 5
            ).cast("bigint"),
        ).alias("aroon_down"),
    )


@_q(
    "window_stochastic_oscillator",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), frames AS (
      SELECT day, cents,
             MIN(cents) OVER w AS lo14,
             MAX(cents) OVER w AS hi14,
             COUNT(*) OVER w AS frame_n
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ), k AS (
      SELECT day, cents,
             CASE WHEN frame_n = 14 AND hi14 > lo14
                  THEN CAST(round(100.0 * CAST(cents - lo14 AS DOUBLE)
                        / CAST(hi14 - lo14 AS DOUBLE) * 1000000000.0)
                       AS BIGINT)
             END AS k_fp
      FROM frames
    )
    SELECT day, cents,
           CAST(k_fp AS DOUBLE) / 1000000000.0 AS pct_k,
           CASE WHEN COUNT(k_fp) OVER d = 3
                THEN CAST(SUM(k_fp) OVER d AS DOUBLE) / 3.0 / 1000000000.0
           END AS pct_d
    FROM k
    WINDOW d AS (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def window_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator %K/%D over daily revenue: %K = 100 *
    (close - low14)/(high14 - low14) from exact integer 14-row frame
    extremes, NULL on warm-up rows AND on flat frames (high = low —
    the round-11 ANSI-totality lesson); %D is the 3-day SMA of %K
    SNAPPED to the 1e-9 integer lattice first (k_fp = round(%K*1e9)
    BIGINT), so the frame mean is an exact integer sum with one final
    division — a float SMA over window rows would be frame-order-
    dependent. Both %K divisions are single identical IEEE chains on
    exact integers. Two window passes over the |days|-bounded series."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(-13, 0)
    frames = daily.select(
        "day",
        "cents",
        F.min("cents").over(w).alias("lo14"),
        F.max("cents").over(w).alias("hi14"),
        F.count("*").over(w).alias("frame_n"),
    )
    k = frames.select(
        "day",
        "cents",
        F.when(
            (F.col("frame_n") == 14) & (F.col("hi14") > F.col("lo14")),
            F.round(
                100.0
                * (F.col("cents") - F.col("lo14")).cast("double")
                / (F.col("hi14") - F.col("lo14")).cast("double")
                * 1000000000.0,
                0,
            ).cast("bigint"),
        ).alias("k_fp"),
    )
    d = Window.orderBy("day").rowsBetween(-2, 0)
    return k.select(
        "day",
        "cents",
        (F.col("k_fp").cast("double") / 1000000000.0).alias("pct_k"),
        F.when(
            F.count("k_fp").over(d) == 3,
            F.sum("k_fp").over(d).cast("double") / 3.0 / 1000000000.0,
        ).alias("pct_d"),
    )


@_q(
    "window_price_percentile_rank",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), framed AS (
      SELECT day, cents,
             list(cents) OVER (ORDER BY day
               ROWS BETWEEN 89 PRECEDING AND CURRENT ROW) AS lst
      FROM daily
    )
    SELECT day, cents,
           CAST(len(lst) AS BIGINT) AS frame_n,
           CAST(len(list_filter(lst, v -> v <= cents)) AS BIGINT) AS n_le,
           CAST(len(list_filter(lst, v -> v <= cents)) AS DOUBLE)
             / CAST(len(lst) AS DOUBLE) AS pct_rank
    FROM framed
    """,
)
def window_price_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each day's revenue as its exact percentile rank within the
    trailing 90 days, via the windowed-list formulation validated in
    the round-11 prototype: frame aggregates cannot reference the
    current row (COUNT(...) FILTER (WHERE v <= cents) is illegal in a
    frame), so the frame is materialized as collect_list(cents) and
    the rank computed OUTSIDE the window with size(filter(lst,
    v -> v <= x)) — pure integer comparisons, one division by the
    always-positive frame size (current row is in its own frame).
    90-element arrays over the |days|-bounded series — negligible
    state; at corpus scale the daily rollup bounds everything
    upstream."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(-89, 0)
    framed = daily.select(
        "day", "cents", F.collect_list("cents").over(w).alias("lst")
    )
    n_le = F.expr("size(filter(lst, v -> v <= cents))").cast("bigint")
    return framed.select(
        "day",
        "cents",
        F.size("lst").cast("bigint").alias("frame_n"),
        n_le.alias("n_le"),
        (n_le.cast("double") / F.size("lst").cast("double")).alias(
            "pct_rank"
        ),
    )


_EMA20_W = _ema_weights(20, 32)
_E20_NUM, _E20_DEN = _ema_sql(_EMA20_W)


@_q(
    "window_keltner_channel",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), terms AS (
      SELECT day, cents,
             {_E20_NUM} AS num20,
             {_E20_DEN} AS den20,
             abs(cents - LAG(cents) OVER w) AS tr
      FROM daily
      WINDOW w AS (ORDER BY day)
    ), atr AS (
      SELECT day, cents, num20, den20,
             CASE WHEN COUNT(tr) OVER a = 10
                  THEN CAST(SUM(tr) OVER a AS BIGINT) END AS tr_sum
      FROM terms
      WINDOW a AS (ORDER BY day ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT day, cents,
           CAST(num20 AS DOUBLE) / CAST(den20 AS DOUBLE) AS center_cents,
           CAST(num20 AS DOUBLE) / CAST(den20 AS DOUBLE)
             + 2.0 * CAST(tr_sum AS DOUBLE) / 10.0 AS upper_cents,
           CAST(num20 AS DOUBLE) / CAST(den20 AS DOUBLE)
             - 2.0 * CAST(tr_sum AS DOUBLE) / 10.0 AS lower_cents
    FROM atr
    """,
)
def window_keltner_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channel over daily revenue: EMA(20) center via the
    round-11 integer-weight EMA machinery (weights are PRECOMPUTED
    literals round((1-alpha)^k * 2^20) shared by both engines, exact
    BIGINT accumulation with present-mass renormalization on warm-up
    rows) +- 2 * ATR(10), where the series' "true range" is the
    absolute day-over-day delta |cents_t - cents_{t-1}| (no OHLC in a
    revenue series — documented definition) and ATR is the exact
    integer 10-row frame sum with ONE division, NULL until the frame
    holds 10 deltas. Budget: 2^20 weights x ~1e10 daily cents x 32
    terms ~ 3e17 < 2^63 (same lattice budget as the graded MACD)."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day")

    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for k, wt in enumerate(_EMA20_W):
        lagged = F.col("cents") if k == 0 else F.lag("cents", k).over(w)
        num = num + F.coalesce(lagged * wt, F.lit(0))
        den = den + F.when(lagged.isNotNull(), wt).otherwise(0)
    terms = daily.select(
        "day",
        "cents",
        num.alias("num20"),
        den.alias("den20"),
        F.abs(F.col("cents") - F.lag("cents", 1).over(w)).alias("tr"),
    )
    a = Window.orderBy("day").rowsBetween(-9, 0)
    atr = terms.select(
        "day",
        "cents",
        "num20",
        "den20",
        F.when(
            F.count("tr").over(a) == 10, F.sum("tr").over(a).cast("bigint")
        ).alias("tr_sum"),
    )
    center = F.col("num20").cast("double") / F.col("den20").cast("double")
    band = 2.0 * F.col("tr_sum").cast("double") / 10.0
    return atr.select(
        "day",
        "cents",
        center.alias("center_cents"),
        (center + band).alias("upper_cents"),
        (center - band).alias("lower_cents"),
    )


@_q(
    "window_streak_runs",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), moves AS (
      SELECT day,
             CASE WHEN cents > LAG(cents) OVER (ORDER BY day) THEN 1
                  WHEN cents < LAG(cents) OVER (ORDER BY day) THEN -1
             END AS s
      FROM daily
    ), signed AS (
      SELECT day, s,
             ROW_NUMBER() OVER (ORDER BY day) AS rn,
             ROW_NUMBER() OVER (PARTITION BY s ORDER BY day) AS rs
      FROM moves WHERE s IS NOT NULL
    ), runs AS (
      SELECT s, rn - rs AS grp, CAST(COUNT(*) AS BIGINT) AS len
      FROM signed GROUP BY s, rn - rs
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_runs,
             CAST(COUNT(CASE WHEN s = 1 THEN 1 END) AS BIGINT) AS n_up_runs,
             CAST(COUNT(CASE WHEN s = -1 THEN 1 END) AS BIGINT)
               AS n_down_runs,
             CAST(MAX(CASE WHEN s = 1 THEN len ELSE 0 END) AS BIGINT)
               AS longest_up,
             CAST(MAX(CASE WHEN s = -1 THEN len ELSE 0 END) AS BIGINT)
               AS longest_down,
             CAST(SUM(CASE WHEN s = 1 THEN len ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN s = -1 THEN len ELSE 0 END) AS BIGINT) AS n2
      FROM runs
    )
    SELECT n_runs, n_up_runs, n_down_runs, longest_up, longest_down, n1, n2,
           CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
                 AND 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                     * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
                     / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                        * CAST(n1 + n2 - 1 AS DOUBLE)) > 0.0
           THEN (CAST(n_runs AS DOUBLE)
                 - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    / CAST(n1 + n2 AS DOUBLE) + 1.0))
                / SQRT(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                       * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                          - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
                       / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                          * CAST(n1 + n2 - 1 AS DOUBLE)))
           END AS runs_z
    FROM agg
    """,
)
def window_streak_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length analytics over up/down daily revenue moves: the
    gaps-and-islands grouping (rn - row_number within sign) turns
    consecutive same-sign moves into runs, yielding run counts and
    longest up/down streaks — the full-run extension of the graded
    turning-point census — plus the Wald-Wolfowitz runs-test z
    comparing observed run count to the randomness expectation
    E[R] = 2 n1 n2/(n1+n2) + 1 with its exact variance (sqrt-only
    float chain on 3 exact BIGINTs, NULL-guarded for one-sided or
    degenerate series; flat moves are excluded from the sign sequence,
    documented). Scale: every window runs on the |days|-bounded
    series."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day")
    moves = daily.select(
        "day",
        F.when(F.col("cents") > F.lag("cents", 1).over(w), 1)
        .when(F.col("cents") < F.lag("cents", 1).over(w), -1)
        .alias("s"),
    ).filter(F.col("s").isNotNull())
    signed = moves.select(
        "day",
        "s",
        F.row_number().over(Window.orderBy("day")).alias("rn"),
        F.row_number()
        .over(Window.partitionBy("s").orderBy("day"))
        .alias("rs"),
    )
    runs = signed.groupBy(
        "s", (F.col("rn") - F.col("rs")).alias("grp")
    ).agg(F.count("*").cast("bigint").alias("len"))
    agg = runs.agg(
        F.count("*").cast("bigint").alias("n_runs"),
        F.count(F.when(F.col("s") == 1, 1)).cast("bigint").alias("n_up_runs"),
        F.count(F.when(F.col("s") == -1, 1))
        .cast("bigint")
        .alias("n_down_runs"),
        F.max(F.when(F.col("s") == 1, F.col("len")).otherwise(0))
        .cast("bigint")
        .alias("longest_up"),
        F.max(F.when(F.col("s") == -1, F.col("len")).otherwise(0))
        .cast("bigint")
        .alias("longest_down"),
        F.sum(F.when(F.col("s") == 1, F.col("len")).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("s") == -1, F.col("len")).otherwise(0))
        .cast("bigint")
        .alias("n2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    nm1 = (F.col("n1") + F.col("n2") - 1).cast("double")
    e_r = 2.0 * n1d * n2d / nd + 1.0
    var_r = (
        2.0 * n1d * n2d * (2.0 * n1d * n2d - n1d - n2d) / (nd * nd * nm1)
    )
    return agg.select(
        "n_runs",
        "n_up_runs",
        "n_down_runs",
        "longest_up",
        "longest_down",
        "n1",
        "n2",
        F.when(
            (F.col("n1") > 0)
            & (F.col("n2") > 0)
            & (F.col("n1") + F.col("n2") > 1)
            & (var_r > 0.0),
            (F.col("n_runs").cast("double") - e_r) / F.sqrt(var_r),
        ).alias("runs_z"),
    )


@_q(
    "window_underwater_duration",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), curve AS (
      SELECT day, cents,
             CAST(MAX(cents) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS peak,
             ROW_NUMBER() OVER (ORDER BY day) AS rn
      FROM daily
    ), under AS (
      SELECT day, cents, peak, rn,
             ROW_NUMBER() OVER (ORDER BY day) AS ru
      FROM curve WHERE cents < peak
    )
    SELECT MIN(day) AS start_day,
           MAX(day) AS end_day,
           CAST(COUNT(*) AS BIGINT) AS duration_days,
           CAST(MAX(peak - cents) AS BIGINT) AS depth_cents
    FROM under
    GROUP BY rn - ru
    """,
)
def window_underwater_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown-episode analytics over the daily revenue curve: an
    "underwater" day sits strictly below the running peak, and
    consecutive underwater days form episodes via the gaps-and-islands
    grouping (series position minus underwater-subsequence position).
    Per episode: start/end day, duration in series positions, and
    maximum depth below the entering peak — exact integers throughout
    (the max-drawdown machinery, promoted from one global statistic to
    the per-episode table). Duration counts trading positions, not
    calendar days (documented). One running-max window + one
    row_number over the |days|-bounded series."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    curve = daily.select(
        "day",
        "cents",
        F.max("cents").over(w).cast("bigint").alias("peak"),
        F.row_number().over(Window.orderBy("day")).alias("rn"),
    )
    under = curve.filter(F.col("cents") < F.col("peak")).select(
        "day",
        "cents",
        "peak",
        "rn",
        F.row_number().over(Window.orderBy("day")).alias("ru"),
    )
    return under.groupBy((F.col("rn") - F.col("ru")).alias("grp")).agg(
        F.min("day").alias("start_day"),
        F.max("day").alias("end_day"),
        F.count("*").cast("bigint").alias("duration_days"),
        F.max(F.col("peak") - F.col("cents"))
        .cast("bigint")
        .alias("depth_cents"),
    ).drop("grp")


def _sdd_oracle() -> str:
    """Seasonal-decompose oracle assembled from per-dow unrolled terms
    (kept generative so the 7-term fixed-order chain is identical, by
    construction, to the Spark side built from the same loop)."""
    aggs = []
    for d in range(7):
        aggs.append(
            f"CAST(SUM(CASE WHEN dow = {d} THEN dollars ELSE 0 END)"
            f" AS BIGINT) AS s{d}"
        )
        aggs.append(
            f"CAST(COUNT(CASE WHEN dow = {d} THEN 1 END) AS BIGINT) AS n{d}"
        )
    means = ", ".join(
        f"CASE WHEN n{d} > 0 THEN CAST(s{d} AS DOUBLE) / CAST(n{d} AS"
        f" DOUBLE) END AS mean_dow{d}"
        for d in range(7)
    )
    within = " + ".join(
        f"CASE WHEN n{d} > 0 THEN CAST(s{d} AS DOUBLE) * CAST(s{d} AS"
        f" DOUBLE) / CAST(n{d} AS DOUBLE) ELSE 0.0 END"
        for d in range(7)
    )
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100 AS dollars
      FROM orders GROUP BY 1
    ), keyed AS (
      SELECT dollars,
             CAST((day - DATE '1970-01-01') + 3 AS BIGINT) % 7 AS dow
      FROM daily
    ), s AS (
      SELECT {', '.join(aggs)},
             CAST(SUM(dollars) AS BIGINT) AS s_all,
             CAST(SUM(dollars * dollars) AS BIGINT) AS q_all,
             CAST(COUNT(*) AS BIGINT) AS n_all
      FROM keyed
    )
    SELECT n_all, {means},
           CASE WHEN n_all > 0
                 AND CAST(q_all AS DOUBLE)
                     - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
                       / CAST(n_all AS DOUBLE) > 0.0
           THEN 1.0 - (CAST(q_all AS DOUBLE) - ({within}))
                / (CAST(q_all AS DOUBLE)
                   - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
                     / CAST(n_all AS DOUBLE))
           END AS seasonal_strength
    FROM s
    """


@_q("window_seasonal_decompose_daily", _sdd_oracle())
def window_seasonal_decompose_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Additive weekday decomposition of the daily revenue series: the
    seven day-of-week means are the seasonal component, and the
    seasonal-strength statistic 1 - SS_resid/SS_raw measures how much
    variance they explain, computed entirely from exact integer moments
    via the decomposition SS_resid = Q - sum_d S_d^2/n_d (no residual
    materialization). Day-of-week is the PORTABLE epoch-day formula
    ((days_since_1970 + 3) mod 7, Monday = 0) — engine date-part
    functions disagree on week start. Daily revenue is truncated to the
    DOLLAR lattice before squaring (daily cents^2 sums overflow int64
    at sf0.1 — the round-11 lattice budget); the 7-term within-group
    reduction is UNROLLED in fixed dow order on both sides (generated
    from the same loop). NULL-guarded for absent dows and zero raw
    variance."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
                " AS BIGINT) div 100"
            ).alias("dollars")
        )
    )
    keyed = daily.select(
        "dollars",
        (
            (F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) + 3)
            .cast("bigint")
            % 7
        ).alias("dow"),
    )
    aggs = []
    for d in range(7):
        aggs.append(
            F.sum(F.when(F.col("dow") == d, F.col("dollars")).otherwise(0))
            .cast("bigint")
            .alias(f"s{d}")
        )
        aggs.append(
            F.count(F.when(F.col("dow") == d, 1))
            .cast("bigint")
            .alias(f"n{d}")
        )
    s = keyed.agg(
        *aggs,
        F.sum("dollars").cast("bigint").alias("s_all"),
        F.sum(F.col("dollars") * F.col("dollars"))
        .cast("bigint")
        .alias("q_all"),
        F.count("*").cast("bigint").alias("n_all"),
    )

    def dd(c: str):
        return F.col(c).cast("double")

    means = [
        F.when(F.col(f"n{d}") > 0, dd(f"s{d}") / dd(f"n{d}")).alias(
            f"mean_dow{d}"
        )
        for d in range(7)
    ]
    within = None
    for d in range(7):
        term = F.when(
            F.col(f"n{d}") > 0, dd(f"s{d}") * dd(f"s{d}") / dd(f"n{d}")
        ).otherwise(0.0)
        within = term if within is None else within + term
    ss_raw = dd("q_all") - dd("s_all") * dd("s_all") / dd("n_all")
    return s.select(
        "n_all",
        *means,
        F.when(
            (F.col("n_all") > 0) & (ss_raw > 0.0),
            1.0 - (dd("q_all") - within) / ss_raw,
        ).alias("seasonal_strength"),
    )


# --- round 13 (pre-built in round 12): series-randomness and momentum ------


@_q(
    "agg_von_neumann_ratio",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100 AS dollars
      FROM orders GROUP BY 1
    ), seq AS (
      SELECT dollars,
             dollars - LAG(dollars) OVER (ORDER BY day) AS diff
      FROM daily
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dollars) AS BIGINT) AS sx,
             CAST(SUM(dollars * dollars) AS BIGINT) AS sxx,
             CAST(SUM(diff * diff) AS BIGINT) AS sdd,
             CAST(COUNT(diff) AS BIGINT) AS n_diffs
      FROM seq
    )
    SELECT n, n_diffs, sdd,
           CASE WHEN n_diffs > 0
                 AND CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                       / CAST(n AS DOUBLE) > 0.0
           THEN (CAST(sdd AS DOUBLE) / CAST(n_diffs AS DOUBLE))
                / ((CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
           END AS von_neumann_ratio
    FROM s
    """,
)
def agg_von_neumann_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Von Neumann ratio (mean squared successive difference / variance)
    of the daily revenue series — the randomness screen whose
    expectation is 2 for an i.i.d. series, < 2 under positive serial
    correlation (trending) and > 2 under alternation. Both moments are
    exact BIGINTs on the DOLLAR lattice (cents^2 overflows int64 — the
    standing budget), reduced in one pass + one lag window over the
    |days|-bounded series; the ratio is a single fixed IEEE chain,
    NULL-guarded for constant series and the single-day degenerate."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
                " AS BIGINT) div 100"
            ).alias("dollars")
        )
    )
    w = Window.orderBy("day")
    seq = daily.select(
        "dollars",
        (F.col("dollars") - F.lag("dollars").over(w)).alias("diff"),
    )
    s = seq.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dollars").cast("bigint").alias("sx"),
        F.sum(F.col("dollars") * F.col("dollars"))
        .cast("bigint")
        .alias("sxx"),
        F.sum(F.col("diff") * F.col("diff")).cast("bigint").alias("sdd"),
        F.count("diff").cast("bigint").alias("n_diffs"),
    )
    nd = F.col("n").cast("double")
    var_num = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double") / nd
    )
    return s.select(
        "n",
        "n_diffs",
        "sdd",
        F.when(
            (F.col("n_diffs") > 0) & (var_num > 0.0),
            (F.col("sdd").cast("double") / F.col("n_diffs").cast("double"))
            / (var_num / nd),
        ).alias("von_neumann_ratio"),
    )


@_q(
    "agg_autocorr_lag_k",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100 AS dollars
      FROM orders GROUP BY 1
    ), spine AS (SELECT UNNEST([1, 7, 28]) AS lag),
    pairs AS (
      SELECT s.lag, d1.dollars AS x, d2.dollars AS y
      FROM daily d1
      CROSS JOIN spine s
      JOIN daily d2 ON d2.day = d1.day + CAST(s.lag AS INTEGER)
    ), m AS (
      SELECT lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY lag
    )
    SELECT lag, n_pairs,
           CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
                 AND CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
           THEN (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / SQRT((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           END AS autocorr
    FROM m
    """,
)
def agg_autocorr_lag_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily revenue at calendar lags 1, 7 and 28 —
    the day-over-day persistence vs weekly vs monthly-cycle signal —
    via the shifted-equi-join identity: each lag pairs day d with
    d + lag (one date_add join over the |days| table per spine row,
    never a window with data-dependent frames), then the centering-free
    Pearson identity per lag: the MOMENTS are exact dollar-lattice
    BIGINTs, and the n*Sxx - Sx^2 combination runs with each factor
    cast to double (the products overflow int64 on this lattice — same
    chain shape as agg_kendall_tau; identical IEEE text both engines).
    Pairs-based estimator: means over the PAIRED subsets.
    NULL-guarded degenerate variances. Three bounded joins + one 3-row
    rollup."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
                " AS BIGINT) div 100"
            ).alias("dollars")
        )
    )
    daily = materialize_reduced(daily)
    left = daily.select(
        "day",
        F.col("dollars").alias("x"),
        F.explode(F.array(F.lit(1), F.lit(7), F.lit(28))).alias("lag"),
    )
    right = daily.select(
        F.col("day").alias("day2"), F.col("dollars").alias("y")
    )
    pairs = left.join(
        right, F.expr("date_add(day, lag)") == F.col("day2")
    )
    m = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    # cast-per-factor: n*sxx and sx^2 overflow BIGINT on the dollar
    # lattice at sf0.01+ (the Kendall-tau chain shape); both engines run
    # the identical double chain so parity holds without exact integers
    def d(c):
        return F.col(c).cast("double")

    vx = d("n_pairs") * d("sxx") - d("sx") * d("sx")
    vy = d("n_pairs") * d("syy") - d("sy") * d("sy")
    num = d("n_pairs") * d("sxy") - d("sx") * d("sy")
    return m.select(
        F.col("lag").cast("bigint").alias("lag"),
        "n_pairs",
        F.when((vx > 0.0) & (vy > 0.0), num / F.sqrt(vx * vy)).alias(
            "autocorr"
        ),
    )


@_q(
    "window_roc_momentum",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    )
    SELECT day, cents,
           CAST(cents - LAG(cents, 12) OVER (ORDER BY day) AS BIGINT)
             AS momentum_cents,
           CASE WHEN LAG(cents, 12) OVER (ORDER BY day) IS NOT NULL
           THEN CAST(cents - LAG(cents, 12) OVER (ORDER BY day) AS DOUBLE)
                / CAST(LAG(cents, 12) OVER (ORDER BY day) AS DOUBLE)
           END AS roc_12
    FROM daily
    """,
)
def window_roc_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-period rate-of-change and raw momentum over daily revenue —
    the simplest trend-strength pair (integer momentum = exact cents
    delta; ROC = one division by the 12-back value, which is
    structurally positive cents, NULL only on the warm-up rows where
    the lag is missing). One lag window over the |days|-bounded
    series; positions are series positions per the family convention."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day")
    lag12 = F.lag("cents", 12).over(w)
    return daily.select(
        "day",
        "cents",
        (F.col("cents") - lag12).cast("bigint").alias("momentum_cents"),
        F.when(
            lag12.isNotNull(),
            (F.col("cents") - lag12).cast("double") / lag12.cast("double"),
        ).alias("roc_12"),
    )


@_q(
    "window_flat_day_rle",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ), moves AS (
      SELECT day,
             CASE WHEN n = LAG(n) OVER (ORDER BY day) THEN 1 ELSE 0 END
               AS flat,
             ROW_NUMBER() OVER (ORDER BY day) AS rn
      FROM daily
    ), flagged AS (
      SELECT day, rn,
             ROW_NUMBER() OVER (ORDER BY day) AS rf
      FROM moves WHERE flat = 1
    ), runs AS (
      SELECT rn - rf AS grp, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM flagged GROUP BY rn - rf
    )
    SELECT run_len,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(run_len * COUNT(*) AS BIGINT) AS flat_days
    FROM runs GROUP BY run_len
    """,
)
def window_flat_day_rle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of FLAT days (daily order count unchanged
    from the previous day) — the stuck-feed screen: a healthy feed's
    counts wiggle, a wedged upstream repeats yesterday's number, and
    consecutive flat days are exactly what this histogram surfaces.
    The streak-runs gaps-and-islands machinery applied to the EXCLUDED
    zero-delta class (counts, not revenue — integer counts actually
    tie day-over-day, so the operator exercises non-trivially on the
    fixture). Exact integers, bounded |distinct run length| output."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = Window.orderBy("day")
    # rn is the position in the FULL series (computed BEFORE the flat
    # filter — island grouping on a post-filter row_number degenerates
    # to one giant run; caught by inspecting the sf0.01 output during
    # the build); rf is the position within the flat subsequence.
    moves = daily.select(
        "day",
        F.when(F.col("n") == F.lag("n").over(w), 1).otherwise(0).alias(
            "flat"
        ),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("flat") == 1)
    flagged = moves.select(
        "day",
        "rn",
        F.row_number().over(Window.orderBy("day")).alias("rf"),
    )
    runs = flagged.groupBy((F.col("rn") - F.col("rf")).alias("grp")).agg(
        F.count("*").cast("bigint").alias("run_len")
    )
    return (
        runs.groupBy("run_len")
        .agg(F.count("*").cast("bigint").alias("n_runs"))
        .select(
            "run_len",
            "n_runs",
            (F.col("run_len") * F.col("n_runs"))
            .cast("bigint")
            .alias("flat_days"),
        )
    )


# --- round 13: oscillator mirror, composed EMA, drawdown stress, runs -----


_DAILY_CENTS_SQL = """
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
"""


def daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared daily-revenue-cents series (the family's spine), also the
    input of the trend tests in relational.py. Returns (day, cents)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )


def daily_revenue_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue in cents summed exactly as DECIMAL, then scaled:
    (sum of prices) * 100, where ``daily_cents`` sums per-order rounded
    cents. Shared by the momentum diagnostics. Returns
    (day, revenue_cents)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        F.col("o_totalprice").cast(DEC).alias("price"),
    )
    return o.groupBy("day").agg(
        (F.sum("price") * 100).cast("bigint").alias("revenue_cents")
    )


@_q(
    "window_williams_r",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}
    ), frames AS (
      SELECT day, cents,
             MIN(cents) OVER w AS lo14,
             MAX(cents) OVER w AS hi14,
             COUNT(*) OVER w AS frame_n
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ), fp AS (
      SELECT day, cents,
             CASE WHEN frame_n = 14 AND hi14 > lo14
                  THEN CAST(round(100.0 * CAST(hi14 - cents AS DOUBLE)
                        / CAST(hi14 - lo14 AS DOUBLE) * 1000000000.0)
                       AS BIGINT)
             END AS r_fp,
             CASE WHEN frame_n = 14 AND hi14 > lo14
                  THEN CAST(round(100.0 * CAST(cents - lo14 AS DOUBLE)
                        / CAST(hi14 - lo14 AS DOUBLE) * 1000000000.0)
                       AS BIGINT)
             END AS k_fp
      FROM frames
    )
    SELECT day, cents,
           CAST(r_fp AS DOUBLE) / 1000000000.0 AS pct_r,
           CAST(k_fp AS DOUBLE) / 1000000000.0 AS pct_k,
           CASE WHEN COUNT(k_fp) OVER d = 3
                THEN CAST(3 * k_fp - SUM(k_fp) OVER d AS DOUBLE)
                     / 3.0 / 1000000000.0
           END AS kd_div
    FROM fp
    WINDOW d AS (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def window_williams_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams %R over daily revenue — the stochastic oscillator's
    mirror from the SAME exact integer 14-row frame extremes (%R =
    100*(hi14 - close)/(hi14 - lo14); %R + %K = 100 by construction),
    bundled with the %K - %D divergence (kd_div = (3*k_fp - sum3
    k_fp)/3e9, exact integers up to one division) that makes the pair
    a crossover signal rather than a re-label. NULL on warm-up rows
    and flat frames (ANSI totality); both divisions are single IEEE
    chains on exact integers snapped to the 1e-9 lattice. Two window
    passes over the |days|-bounded series."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(-13, 0)
    frames = daily.select(
        "day",
        "cents",
        F.min("cents").over(w).alias("lo14"),
        F.max("cents").over(w).alias("hi14"),
        F.count("*").over(w).alias("frame_n"),
    )
    full = (F.col("frame_n") == 14) & (F.col("hi14") > F.col("lo14"))
    rng = (F.col("hi14") - F.col("lo14")).cast("double")
    fp = frames.select(
        "day",
        "cents",
        F.when(
            full,
            F.round(
                100.0
                * (F.col("hi14") - F.col("cents")).cast("double")
                / rng
                * 1000000000.0,
                0,
            ).cast("bigint"),
        ).alias("r_fp"),
        F.when(
            full,
            F.round(
                100.0
                * (F.col("cents") - F.col("lo14")).cast("double")
                / rng
                * 1000000000.0,
                0,
            ).cast("bigint"),
        ).alias("k_fp"),
    )
    d = Window.orderBy("day").rowsBetween(-2, 0)
    return fp.select(
        "day",
        "cents",
        (F.col("r_fp").cast("double") / 1000000000.0).alias("pct_r"),
        (F.col("k_fp").cast("double") / 1000000000.0).alias("pct_k"),
        F.when(
            F.count("k_fp").over(d) == 3,
            (3 * F.col("k_fp") - F.sum("k_fp").over(d)).cast("double")
            / 3.0
            / 1000000000.0,
        ).alias("kd_div"),
    )


def _trix_weights(span: int, horizon: int) -> list[int]:
    """Integer weights of the TRIPLE-convolved EMA(span) kernel,
    w3[k] = round((k+1)(k+2)/2 * (1-alpha)^k * 2^20) with alpha =
    2/(span+1) — the closed form of geometric-decay convolved with
    itself twice. Computed once at import into shared literals (the
    round-10 no-runtime-libm prescription); at span=15 / horizon=90
    the truncated kernel keeps 99.95% of the mass (sum 536,623,888)
    and max_cents(1e10) * sum_weights = 5.4e18 < 2^63, so the BIGINT
    accumulator holds (round-12 prototype, ROADMAP_r13 #13)."""
    decay = 1.0 - 2.0 / (span + 1)
    return [
        round((k + 1) * (k + 2) // 2 * decay**k * (1 << 20))
        for k in range(horizon)
    ]


_TRIX_W = _trix_weights(15, 90)
_TRIX_NUM, _TRIX_DEN = _ema_sql(_TRIX_W)


@_q(
    "window_trix_indicator",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}
    ), terms AS (
      SELECT day, cents,
             {_TRIX_NUM} AS num,
             {_TRIX_DEN} AS den
      FROM daily
      WINDOW w AS (ORDER BY day)
    ), lagged AS (
      SELECT day, cents, num, den,
             LAG(num) OVER (ORDER BY day) AS lnum,
             LAG(den) OVER (ORDER BY day) AS lden
      FROM terms
    )
    SELECT day, cents,
           CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0 AS t3_dollars,
           CASE WHEN lnum IS NOT NULL THEN
             10000.0 * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                        - CAST(lnum AS DOUBLE) / CAST(lden AS DOUBLE))
             / (CAST(lnum AS DOUBLE) / CAST(lden AS DOUBLE))
           END AS trix
    FROM lagged
    """,
)
def window_trix_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIX (1e4-scaled one-period ROC of the triple-smoothed EMA(15))
    over daily revenue. The triple EMA is NOT three passes: it
    collapses to ONE windowed integer dot product with the
    triple-convolved kernel (k+1)(k+2)/2 * decay^k, precomputed as
    integer literals shared by both engine sides (_trix_weights). The
    single-kernel form renormalizes ONCE over present-weight mass on
    warm-up rows — a documented definitional choice (composing three
    independently-renormalized EMAs differs there; both engines share
    this definition so parity is by construction, round-12 prototype).
    T_t and T_{t-1} are ratios of exact BIGINTs; TRIX is one fixed
    IEEE chain on them, NULL on the first row only (num > 0
    structurally: cents > 0 and w0 > 0). One window pass over the
    |days|-bounded series."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day")
    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for k, wt in enumerate(_TRIX_W):
        lagged = F.col("cents") if k == 0 else F.lag("cents", k).over(w)
        num = num + F.coalesce(lagged * wt, F.lit(0))
        den = den + F.when(lagged.isNotNull(), wt).otherwise(0)
    terms = daily.select(
        "day", "cents", num.alias("num"), den.alias("den")
    )
    lg = terms.select(
        "day",
        "cents",
        "num",
        "den",
        F.lag("num").over(Window.orderBy("day")).alias("lnum"),
        F.lag("den").over(Window.orderBy("day")).alias("lden"),
    )
    t = F.col("num").cast("double") / F.col("den").cast("double")
    lt = F.col("lnum").cast("double") / F.col("lden").cast("double")
    return lg.select(
        "day",
        "cents",
        (t / 100.0).alias("t3_dollars"),
        F.when(F.col("lnum").isNotNull(), 10000.0 * (t - lt) / lt).alias(
            "trix"
        ),
    )


@_q(
    "window_ulcer_index",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}
    ), dd AS (
      SELECT day, cents,
             MAX(cents) OVER p AS peak_cents,
             CAST(round(100.0
                   * CAST(MAX(cents) OVER p - cents AS DOUBLE)
                   / CAST(MAX(cents) OVER p AS DOUBLE)
                   * 1000000.0) AS BIGINT) AS dd_fp
      FROM daily
      WINDOW p AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    SELECT day, cents, peak_cents,
           CAST(dd_fp AS DOUBLE) / 1000000.0 AS dd_pct,
           CASE WHEN COUNT(*) OVER f = 14 THEN
             SQRT(CAST(SUM(dd_fp * dd_fp) OVER f AS DOUBLE) / 14.0)
             / 1000000.0
           END AS ulcer_14
    FROM dd
    WINDOW f AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    """,
)
def window_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day Ulcer Index over daily revenue: RMS of the drawdown
    percentage from the running peak. Each row's drawdown pct is ONE
    IEEE divide against the running-peak integer (peak > 0
    structurally) snapped to the 1e-6 percent lattice (dd_fp <= 1e8,
    so dd_fp^2 <= 1e16 and the 14-row frame sum of squares stays well
    inside BIGINT — the lattice is chosen exactly for that budget);
    the frame mean-of-squares is then an exact integer sum with one
    final division + sqrt. NULL on warm-up rows (frame < 14). Two
    window passes (running peak, then RMS frame) over the
    |days|-bounded series."""
    daily = daily_cents(spark, sf_dir)
    p = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    peak = F.max("cents").over(p)
    dd = daily.select(
        "day",
        "cents",
        peak.alias("peak_cents"),
        F.round(
            100.0
            * (peak - F.col("cents")).cast("double")
            / peak.cast("double")
            * 1000000.0,
            0,
        )
        .cast("bigint")
        .alias("dd_fp"),
    )
    f = Window.orderBy("day").rowsBetween(-13, 0)
    return dd.select(
        "day",
        "cents",
        "peak_cents",
        (F.col("dd_fp").cast("double") / 1000000.0).alias("dd_pct"),
        F.when(
            F.count("*").over(f) == 14,
            F.sqrt(
                F.sum(F.col("dd_fp") * F.col("dd_fp")).over(f).cast("double")
                / 14.0
            )
            / 1000000.0,
        ).alias("ulcer_14"),
    )


@_q(
    "window_threshold_reversal_count",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}
    ), flags AS (
      SELECT day, cents,
             CASE WHEN COUNT(*) OVER w = 20
                   AND cents * 100 <= MAX(cents) OVER w * 95
                  THEN 1 ELSE 0 END AS drop_rev,
             CASE WHEN COUNT(*) OVER w = 20
                   AND cents * 100 >= MIN(cents) OVER w * 105
                  THEN 1 ELSE 0 END AS rise_rev
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(date_trunc('month', day) AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(drop_rev) AS BIGINT) AS drop_reversals,
           CAST(SUM(rise_rev) AS BIGINT) AS rise_reversals
    FROM flags GROUP BY 1
    """,
)
def window_threshold_reversal_count(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly count of >=5% reversals from the trailing 20-day frame
    extremum — the STATELESS sibling of zigzag pivots (the recursive
    pivot-anchored form has no prefix-scan identity; round-12
    prototype, ROADMAP_r13 #15 recommendation (b)). A day is a drop
    reversal when close*100 <= hi20*95 (integer cross-multiply, no
    division anywhere) and a rise reversal when close*100 >= lo20*105;
    warm-up frames (<20 rows) are structurally excluded by the
    COUNT(*)=20 gate, keeping ANSI totality trivial. One window pass +
    one bounded month rollup."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(-19, 0)
    full = F.count("*").over(w) == 20
    flags = daily.select(
        "day",
        F.when(
            full & (F.col("cents") * 100 <= F.max("cents").over(w) * 95), 1
        )
        .otherwise(0)
        .alias("drop_rev"),
        F.when(
            full & (F.col("cents") * 100 >= F.min("cents").over(w) * 105), 1
        )
        .otherwise(0)
        .alias("rise_rev"),
    )
    return (
        flags.groupBy(F.date_trunc("month", "day").cast("date").alias("month"))
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum("drop_rev").cast("bigint").alias("drop_reversals"),
            F.sum("rise_rev").cast("bigint").alias("rise_reversals"),
        )
    )


@_q(
    "window_volume_price_corr",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100 AS dollars
      FROM orders GROUP BY 1
    ), sums AS (
      SELECT day, n_orders, dollars,
             COUNT(*) OVER w AS fn,
             SUM(n_orders) OVER w AS sc,
             SUM(dollars) OVER w AS sr,
             SUM(n_orders * n_orders) OVER w AS scc,
             SUM(dollars * dollars) OVER w AS srr,
             SUM(n_orders * dollars) OVER w AS scr
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT day, n_orders, dollars,
           CASE WHEN fn = 30
                 AND CAST(fn AS DOUBLE) * CAST(scc AS DOUBLE)
                     - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) > 0.0
                 AND CAST(fn AS DOUBLE) * CAST(srr AS DOUBLE)
                     - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) > 0.0
           THEN (CAST(fn AS DOUBLE) * CAST(scr AS DOUBLE)
                 - CAST(sc AS DOUBLE) * CAST(sr AS DOUBLE))
                / SQRT((CAST(fn AS DOUBLE) * CAST(scc AS DOUBLE)
                        - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
                       * (CAST(fn AS DOUBLE) * CAST(srr AS DOUBLE)
                          - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)))
           END AS vol_price_corr
    FROM sums
    """,
)
def window_volume_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-day Pearson correlation between daily order count
    and daily revenue — the rolling-correlation shape at window grain:
    six exact integer frame sums (revenue on the DOLLAR lattice so
    dollars^2 <= 1e16 stays inside BIGINT over the 30-row frame — the
    agg_autocorr_lag_k budget), then the centering-free identity as a
    cast-per-factor double chain per row (n*Sxx - Sx^2 overflows int64
    on this lattice; identical IEEE text both engines — the
    agg_kendall_tau chain shape). NULL on warm-up frames and
    degenerate variances. One window pass over the |days|-bounded
    series."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
                " AS BIGINT) div 100"
            ).alias("dollars"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-29, 0)
    sums = daily.select(
        "day",
        "n_orders",
        "dollars",
        F.count("*").over(w).alias("fn"),
        F.sum("n_orders").over(w).alias("sc"),
        F.sum("dollars").over(w).alias("sr"),
        F.sum(F.col("n_orders") * F.col("n_orders")).over(w).alias("scc"),
        F.sum(F.col("dollars") * F.col("dollars")).over(w).alias("srr"),
        F.sum(F.col("n_orders") * F.col("dollars")).over(w).alias("scr"),
    )

    def d(c):
        return F.col(c).cast("double")

    vx = d("fn") * d("scc") - d("sc") * d("sc")
    vy = d("fn") * d("srr") - d("sr") * d("sr")
    num = d("fn") * d("scr") - d("sc") * d("sr")
    return sums.select(
        "day",
        "n_orders",
        "dollars",
        F.when(
            (F.col("fn") == 30) & (vx > 0.0) & (vy > 0.0),
            num / F.sqrt(vx * vy),
        ).alias("vol_price_corr"),
    )


@_q(
    "window_donchian_breakout_runs",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}
    ), flagged AS (
      SELECT day, cents,
             MAX(cents) OVER w AS hi20p,
             COUNT(*) OVER w AS n20p,
             ROW_NUMBER() OVER (ORDER BY day) AS rn
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ), brk AS (
      SELECT day, cents, hi20p, rn,
             ROW_NUMBER() OVER (ORDER BY day) AS rf
      FROM flagged WHERE n20p = 20 AND cents > hi20p
    )
    SELECT MIN(day) AS run_start,
           CAST(COUNT(*) AS BIGINT) AS run_len,
           CAST(MAX(cents - hi20p) AS BIGINT) AS max_overshoot_cents
    FROM brk GROUP BY rn - rf
    """,
)
def window_donchian_breakout_runs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Consecutive-day Donchian breakout runs: days whose close exceeds
    the PRIOR 20-day high (frame 20 PRECEDING .. 1 PRECEDING, full
    frames only) grouped into maximal consecutive islands via the
    rn - rf gaps-and-islands key, where rn is the position in the FULL
    series — computed BEFORE the breakout filter (the
    window_flat_day_rle island-grouping lesson) — and rf the position
    within the breakout subsequence. Per run: start day, length, max
    overshoot above the prior high in exact cents. Three window passes
    + one bounded rollup over the |days|-bounded series."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(-20, -1)
    flagged = daily.select(
        "day",
        "cents",
        F.max("cents").over(w).alias("hi20p"),
        F.count("*").over(w).alias("n20p"),
        F.row_number().over(Window.orderBy("day")).alias("rn"),
    ).filter((F.col("n20p") == 20) & (F.col("cents") > F.col("hi20p")))
    brk = flagged.select(
        "day",
        "cents",
        "hi20p",
        "rn",
        F.row_number().over(Window.orderBy("day")).alias("rf"),
    )
    return (
        brk.groupBy((F.col("rn") - F.col("rf")).alias("grp"))
        .agg(
            F.min("day").alias("run_start"),
            F.count("*").cast("bigint").alias("run_len"),
            F.max(F.col("cents") - F.col("hi20p"))
            .cast("bigint")
            .alias("max_overshoot_cents"),
        )
        .drop("grp")
    )


# --- round 14 pre-builds (wave 1): momentum and detrending -----------------


@_q(
    "window_chande_momentum",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}
    ), moves AS (
      SELECT day, cents,
             CASE WHEN LAG(cents) OVER (ORDER BY day) IS NULL THEN NULL
                  ELSE GREATEST(cents - LAG(cents) OVER (ORDER BY day), 0)
             END AS up,
             CASE WHEN LAG(cents) OVER (ORDER BY day) IS NULL THEN NULL
                  ELSE GREATEST(LAG(cents) OVER (ORDER BY day) - cents, 0)
             END AS dn
      FROM daily
    ), frames AS (
      SELECT day, cents,
             SUM(up) OVER w AS su,
             SUM(dn) OVER w AS sd,
             COUNT(up) OVER w AS nd
      FROM moves
      WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT day, cents,
           CASE WHEN nd = 14 AND su + sd > 0 THEN
             100.0 * CAST(su - sd AS DOUBLE) / CAST(su + sd AS DOUBLE)
           END AS cmo_14
    FROM frames
    """,
)
def window_chande_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chande Momentum Oscillator CMO(14) = 100*(S_up - S_dn)/(S_up +
    S_dn) over daily revenue — RSI's symmetric unsmoothed sibling
    (same up/dn move decomposition, no EMA warm-up bias): exact
    integer 14-frame up/down sums, ONE division per row, NULL on
    warm-up frames (count of non-null deltas < 14) and on flat frames
    (su + sd = 0 — ANSI totality). One lag + one frame pass over the
    |days|-bounded series."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day")
    lagc = F.lag("cents").over(w)
    # GREATEST ignores NULLs in BOTH engines (greatest(NULL, 0) = 0), which
    # would silently turn the warm-up row into a phantom zero move — gate
    # on the lag explicitly so day 1 contributes no move at all.
    moves = daily.select(
        "day",
        "cents",
        F.when(
            lagc.isNotNull(),
            F.greatest(F.col("cents") - lagc, F.lit(0)),
        ).alias("up"),
        F.when(
            lagc.isNotNull(),
            F.greatest(lagc - F.col("cents"), F.lit(0)),
        ).alias("dn"),
    )
    f = Window.orderBy("day").rowsBetween(-13, 0)
    frames = moves.select(
        "day",
        "cents",
        F.sum("up").over(f).alias("su"),
        F.sum("dn").over(f).alias("sd"),
        F.count("up").over(f).alias("nd"),
    )
    return frames.select(
        "day",
        "cents",
        F.when(
            (F.col("nd") == 14) & (F.col("su") + F.col("sd") > 0),
            100.0
            * (F.col("su") - F.col("sd")).cast("double")
            / (F.col("su") + F.col("sd")).cast("double"),
        ).alias("cmo_14"),
    )


@_q(
    "window_detrended_oscillator",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}
    ), sma AS (
      SELECT day, cents,
             SUM(cents) OVER w AS s20,
             COUNT(*) OVER w AS n20
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), lagged AS (
      SELECT day, cents,
             LAG(s20, 11) OVER (ORDER BY day) AS ls20,
             LAG(n20, 11) OVER (ORDER BY day) AS ln20
      FROM sma
    )
    SELECT day, cents,
           CASE WHEN ln20 = 20 THEN
             CAST(cents AS DOUBLE) - CAST(ls20 AS DOUBLE) / 20.0
           END AS dpo_20
    FROM lagged
    """,
)
def window_detrended_oscillator(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Detrended price oscillator DPO(20) = close_t - SMA20(t - 11)
    over daily revenue: subtracting a HALF-WINDOW-SHIFTED moving
    average removes the trend component at the window scale, leaving
    the cycle — the classic cycle-vs-trend split, and the displaced-
    frame shape no other window entry exercises (a lag OF a frame
    aggregate). The SMA travels as its exact integer frame SUM (one
    division at the end), the 11-row displacement is a lag of that
    exact sum, and rows whose displaced frame was not full (ln20 <>
    20) are NULL. One frame pass + one lag pass over the
    |days|-bounded series."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(-19, 0)
    sma = daily.select(
        "day",
        "cents",
        F.sum("cents").over(w).alias("s20"),
        F.count("*").over(w).alias("n20"),
    )
    lw = Window.orderBy("day")
    lagged = sma.select(
        "day",
        "cents",
        F.lag("s20", 11).over(lw).alias("ls20"),
        F.lag("n20", 11).over(lw).alias("ln20"),
    )
    return lagged.select(
        "day",
        "cents",
        F.when(
            F.col("ln20") == 20,
            F.col("cents").cast("double")
            - F.col("ls20").cast("double") / 20.0,
        ).alias("dpo_20"),
    )


# --- round 14: volatility / trend indicators on the daily OHLC-ish spine --

_DAILY_HLC_SQL = """
      SELECT CAST(o_orderdate AS DATE) AS day,
             MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS hi,
             MIN(CAST(round(o_totalprice * 100) AS BIGINT)) AS lo,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // CAST(COUNT(*) AS BIGINT) AS cls,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
"""


def _daily_hlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily pseudo-OHLC spine: hi/lo = max/min single-order cents,
    cls = floor-mean order cents (total div count — the mean keeps
    close on the same scale as hi/lo; ROADMAP_r14 #10 sketched the
    daily TOTAL, which would dwarf any single-order hi/lo and turn
    every true range into yesterday's-total distance — documented
    deviation), n_orders = day count. All exact BIGINTs; positive, so
    DuckDB's flooring // and Spark's truncating div agree."""
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.max(cents).alias("hi"),
            F.min(cents).alias("lo"),
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
                " AS BIGINT) div count(*)"
            ).alias("cls"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
    )


@_q(
    "window_average_true_range",
    f"""
    WITH daily AS ({_DAILY_HLC_SQL}
    ), tr AS (
      SELECT day, hi, lo, cls,
             CASE WHEN LAG(cls) OVER (ORDER BY day) IS NULL THEN hi - lo
                  ELSE GREATEST(hi - lo,
                                abs(hi - LAG(cls) OVER (ORDER BY day)),
                                abs(lo - LAG(cls) OVER (ORDER BY day)))
             END AS tr
      FROM daily
    )
    SELECT day, hi, lo, cls, tr,
           CAST(COUNT(*) OVER w AS BIGINT) AS frame_n,
           CAST(CAST(SUM(tr) OVER w AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) OVER w AS DOUBLE) / 100.0 AS atr14
    FROM tr
    WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    """,
)
def window_average_true_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATR(14) on the daily pseudo-OHLC spine (_daily_hlc): true range
    = GREATEST(hi-lo, |hi-prev_close|, |lo-prev_close|), with the
    warm-up row gated EXPLICITLY to hi-lo before GREATEST ever sees a
    NULL lag (the window_chande_momentum lesson: GREATEST ignores
    NULLs in both engines, silently shrinking the argument list), and
    ATR as the exact-integer frame mean over 14 rows (partial warm-up
    frames averaged over frame_n — Wilder's seed choice, documented).
    Budget: tr < 2^37 cents, 14-term sum < 2^42. One day rollup + one
    ordered window over the |days|-bounded series."""
    daily = _daily_hlc(spark, sf_dir)
    lw = Window.orderBy("day")
    pc = F.lag("cls").over(lw)
    tr = F.when(pc.isNull(), F.col("hi") - F.col("lo")).otherwise(
        F.greatest(
            F.col("hi") - F.col("lo"),
            F.abs(F.col("hi") - pc),
            F.abs(F.col("lo") - pc),
        )
    )
    t = daily.select("day", "hi", "lo", "cls", tr.alias("tr"))
    fw = Window.orderBy("day").rowsBetween(-13, 0)
    return t.select(
        "day",
        "hi",
        "lo",
        "cls",
        "tr",
        F.count("*").over(fw).cast("bigint").alias("frame_n"),
        (
            F.sum("tr").over(fw).cast("bigint").cast("double")
            / F.count("*").over(fw).cast("double")
            / 100.0
        ).alias("atr14"),
    )


@_q(
    "window_vortex_indicator",
    f"""
    WITH daily AS ({_DAILY_HLC_SQL}
    ), l AS (
      SELECT day, hi, lo,
             LAG(hi) OVER (ORDER BY day) AS phi,
             LAG(lo) OVER (ORDER BY day) AS plo,
             LAG(cls) OVER (ORDER BY day) AS pcls
      FROM daily
    ), t AS (
      SELECT day,
             CASE WHEN plo IS NOT NULL THEN abs(hi - plo) END AS vmp,
             CASE WHEN phi IS NOT NULL THEN abs(lo - phi) END AS vmm,
             CASE WHEN pcls IS NOT NULL THEN
               GREATEST(hi - lo, abs(hi - pcls), abs(lo - pcls))
             END AS tr
      FROM l
    )
    SELECT day,
           CAST(SUM(vmp) OVER w AS BIGINT) AS vmp14,
           CAST(SUM(vmm) OVER w AS BIGINT) AS vmm14,
           CAST(SUM(tr) OVER w AS BIGINT) AS tr14,
           CASE WHEN CAST(SUM(tr) OVER w AS BIGINT) > 0 THEN
             CAST(CAST(SUM(vmp) OVER w AS BIGINT) AS DOUBLE)
               / CAST(CAST(SUM(tr) OVER w AS BIGINT) AS DOUBLE) END
             AS vi_plus,
           CASE WHEN CAST(SUM(tr) OVER w AS BIGINT) > 0 THEN
             CAST(CAST(SUM(vmm) OVER w AS BIGINT) AS DOUBLE)
               / CAST(CAST(SUM(tr) OVER w AS BIGINT) AS DOUBLE) END
             AS vi_minus
    FROM t
    WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    """,
)
def window_vortex_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vortex indicator VI+/VI- over 14-day frames: VM+ = |hi_t -
    lo_{t-1}|, VM- = |lo_t - hi_{t-1}|, both against the shared true
    range. Unlike ATR, the warm-up row contributes NOTHING here — all
    three terms are gated NULL when their lag is missing, and frame
    SUMs skip NULLs identically in both engines, so numerator and
    denominator always cover the same day set. Two guarded divisions
    by the exact integer TR sum (0 only when every frame day is
    single-order flat). One window pass over the |days|-bounded
    series."""
    daily = _daily_hlc(spark, sf_dir)
    lw = Window.orderBy("day")
    l = daily.select(
        "day",
        "hi",
        "lo",
        F.lag("hi").over(lw).alias("phi"),
        F.lag("lo").over(lw).alias("plo"),
        F.lag("cls").over(lw).alias("pcls"),
    )
    t = l.select(
        "day",
        F.when(
            F.col("plo").isNotNull(), F.abs(F.col("hi") - F.col("plo"))
        ).alias("vmp"),
        F.when(
            F.col("phi").isNotNull(), F.abs(F.col("lo") - F.col("phi"))
        ).alias("vmm"),
        F.when(
            F.col("pcls").isNotNull(),
            F.greatest(
                F.col("hi") - F.col("lo"),
                F.abs(F.col("hi") - F.col("pcls")),
                F.abs(F.col("lo") - F.col("pcls")),
            ),
        ).alias("tr"),
    )
    fw = Window.orderBy("day").rowsBetween(-13, 0)
    vmp14 = F.sum("vmp").over(fw).cast("bigint")
    vmm14 = F.sum("vmm").over(fw).cast("bigint")
    tr14 = F.sum("tr").over(fw).cast("bigint")
    return t.select(
        "day",
        vmp14.alias("vmp14"),
        vmm14.alias("vmm14"),
        tr14.alias("tr14"),
        F.when(tr14 > 0, vmp14.cast("double") / tr14.cast("double")).alias(
            "vi_plus"
        ),
        F.when(tr14 > 0, vmm14.cast("double") / tr14.cast("double")).alias(
            "vi_minus"
        ),
    )


def _hull_kernel() -> list[int]:
    """Integer kernel of HMA(16) = WMA(4) over (2*WMA(8) - WMA(16)),
    composed at import into ONE 19-tap dot product (the TRIX
    composed-kernel precedent, ROADMAP_r14 #11). Exact rationals on a
    common denominator: WMA(8)/WMA(16)/WMA(4) denominators 36/136/10,
    lcm(36,136) = 1224, so u_i = 68*(8-i) - 9*(16-i) (i<8) else
    -9*(16-i) is the 1224-scaled detrend kernel and C_k =
    sum_j (4-j)*u_{k-j} the 12240-scaled Hull kernel. sum(C) = 12240
    exactly (mean-preserving); sum(|C|) = 18390 => max |num| <
    1.9e4 * 1e10 cents < 2^63. Negative taps mean warm-up
    renormalization is ill-defined, so HMA is NULL until the 19-row
    frame is complete."""
    u = [0] * 16
    for i in range(8):
        u[i] += 2 * 34 * (8 - i)
    for i in range(16):
        u[i] -= 9 * (16 - i)
    c = [0] * 19
    for j in range(4):
        for i in range(16):
            c[i + j] += (4 - j) * u[i]
    return c


_HULL_C = _hull_kernel()
_HULL_DEN = 12240
_HULL_NUM_SQL = " + ".join(
    f"COALESCE(LAG(cents, {k}) OVER w * ({c}), 0)" if k else f"cents * ({c})"
    for k, c in enumerate(_HULL_C)
)


@_q(
    "window_hull_ma",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}
    ), terms AS (
      SELECT day, cents,
             {_HULL_NUM_SQL} AS num,
             CAST(COUNT(*) OVER (ORDER BY day
               ROWS BETWEEN 18 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS frame_n
      FROM daily
      WINDOW w AS (ORDER BY day)
    )
    SELECT day, cents, frame_n,
           CASE WHEN frame_n = 19 THEN
             CAST(num AS DOUBLE) / {_HULL_DEN}.0 / 100.0 END AS hma16
    FROM terms
    """,
)
def window_hull_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hull moving average HMA(16) over daily revenue: WMA(sqrt(16)=4)
    of the detrended series 2*WMA(8) - WMA(16), collapsed at import
    into ONE exact integer 19-tap kernel (_hull_kernel — composition
    proof and the 12240 common denominator there), so the triple-WMA
    stack costs a single window pass and zero runtime float sums.
    Kernel taps are NEGATIVE on the tail (that is what makes Hull lag
    shorter than its span), so present-mass renormalization on partial
    frames is meaningless — warm-up rows report frame_n and NULL. One
    fixed num/12240/100 double chain on complete frames."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day")
    num = None
    for k, c in enumerate(_HULL_C):
        lagged = F.col("cents") if k == 0 else F.lag("cents", k).over(w)
        term = F.coalesce(lagged * F.lit(c), F.lit(0))
        num = term if num is None else num + term
    fw = Window.orderBy("day").rowsBetween(-18, 0)
    terms = daily.select(
        "day",
        "cents",
        num.alias("num"),
        F.count("*").over(fw).cast("bigint").alias("frame_n"),
    )
    return terms.select(
        "day",
        "cents",
        "frame_n",
        F.when(
            F.col("frame_n") == 19,
            F.col("num").cast("double") / float(_HULL_DEN) / 100.0,
        ).alias("hma16"),
    )


def _ema2_weights(span: int, horizon: int) -> list[int]:
    """Integer weights of the EMA(span)-of-EMA(span) kernel, w2[k] =
    round((k+1) * (1-alpha)^k * 2^20) — geometric decay convolved with
    itself once (the TRIX generator's double-smoothed sibling).
    Import-time literals shared by both engine sides."""
    decay = 1.0 - 2.0 / (span + 1)
    return [round((k + 1) * decay**k * (1 << 20)) for k in range(horizon)]


_MASS_E1_W = _ema_weights(9, 40)
_MASS_E2_W = _ema2_weights(9, 60)


def _kernel_sql(weights: list[int], col: str) -> tuple[str, str]:
    """num/den SQL for an integer-weight kernel over an arbitrary
    column (the _ema_sql pattern, column-parameterized)."""
    num, den = [], []
    for k, wt in enumerate(weights):
        lag = f"LAG({col}, {k}) OVER w" if k else col
        num.append(f"COALESCE({lag} * {wt}, 0)")
        den.append(f"CASE WHEN {lag} IS NOT NULL THEN {wt} ELSE 0 END")
    return " + ".join(num), " + ".join(den)


_MASS_E1_NUM, _MASS_E1_DEN = _kernel_sql(_MASS_E1_W, "rng")
_MASS_E2_NUM, _MASS_E2_DEN = _kernel_sql(_MASS_E2_W, "rng")


@_q(
    "window_mass_index",
    f"""
    WITH daily AS ({_DAILY_HLC_SQL}
    ), r AS (
      SELECT day, hi - lo AS rng FROM daily
    ), terms AS (
      SELECT day, rng,
             {_MASS_E1_NUM} AS n1, {_MASS_E1_DEN} AS d1,
             {_MASS_E2_NUM} AS n2, {_MASS_E2_DEN} AS d2
      FROM r
      WINDOW w AS (ORDER BY day)
    ), snap AS (
      SELECT day, rng,
             CASE WHEN n2 > 0 THEN
               CAST(round(CAST(n1 AS DOUBLE) / CAST(d1 AS DOUBLE)
                          / (CAST(n2 AS DOUBLE) / CAST(d2 AS DOUBLE))
                          * 1000000000.0) AS BIGINT) END AS ratio_fp
      FROM terms
    )
    SELECT day, rng, ratio_fp,
           CAST(COUNT(ratio_fp) OVER w2 AS BIGINT) AS n25,
           CASE WHEN COUNT(ratio_fp) OVER w2 > 0 THEN
             CAST(CAST(SUM(ratio_fp) OVER w2 AS BIGINT) AS DOUBLE)
               / 1000000000.0 END AS mass25
    FROM snap
    WINDOW w2 AS (ORDER BY day ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
    """,
)
def window_mass_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mass index: 25-day sum of EMA9(range)/EMA9(EMA9(range)) over the
    daily hi-lo order-value range — the reversal-bulge screen
    (ROADMAP_r14 #13). Both EMAs are import-time integer kernels (the
    double-smoothed one via _ema2_weights, (k+1)*decay^k — one
    convolution, not two passes); each day's ratio is one fixed IEEE
    chain on four exact BIGINTs, snapped to the 1e-9 lattice BEFORE
    the 25-sum so the frame aggregate is order-independent (the
    fp_sum discipline, applied through a window). NULL-guarded on
    n2 = 0 (every horizon day single-order flat); budget: ratio <
    ~1e3 => |ratio_fp| < 1e12, 25-sum < 2.5e13 < 2^63; kernel sums
    < 2.6e7 weight-mass * 1e10 cents < 2^63."""
    daily = _daily_hlc(spark, sf_dir)
    r = daily.select("day", (F.col("hi") - F.col("lo")).alias("rng"))
    w = Window.orderBy("day")

    def kernel(weights):
        num = F.lit(0).cast("bigint")
        den = F.lit(0).cast("bigint")
        for k, wt in enumerate(weights):
            lagged = F.col("rng") if k == 0 else F.lag("rng", k).over(w)
            num = num + F.coalesce(lagged * wt, F.lit(0))
            den = den + F.when(lagged.isNotNull(), wt).otherwise(0)
        return num, den

    n1, d1 = kernel(_MASS_E1_W)
    n2, d2 = kernel(_MASS_E2_W)
    terms = r.select(
        "day",
        "rng",
        n1.alias("n1"),
        d1.alias("d1"),
        n2.alias("n2"),
        d2.alias("d2"),
    )
    ratio = (
        F.col("n1").cast("double")
        / F.col("d1").cast("double")
        / (F.col("n2").cast("double") / F.col("d2").cast("double"))
    )
    snap = terms.select(
        "day",
        "rng",
        F.when(
            F.col("n2") > 0,
            F.round(ratio * 1000000000.0, 0).cast("bigint"),
        ).alias("ratio_fp"),
    )
    w2 = Window.orderBy("day").rowsBetween(-24, 0)
    n25 = F.count("ratio_fp").over(w2).cast("bigint")
    return snap.select(
        "day",
        "rng",
        "ratio_fp",
        n25.alias("n25"),
        F.when(
            n25 > 0,
            F.sum("ratio_fp").over(w2).cast("bigint").cast("double")
            / 1000000000.0,
        ).alias("mass25"),
    )


def _force_weights(span: int, horizon: int) -> list[int]:
    """EMA weights at 2^10 scale (not the usual 2^20): the force-index
    addend is delta_dollars * n_orders, itself up to ~6e13 at a
    1e8-orders/day ceiling, so the weight scale is dropped two decades
    to keep num < 6e13 * 1024 * 40 < 2.5e18 < 2^63. Kernel
    quantization is part of the operator's definition — both engine
    sides consume the same literals."""
    decay = 1.0 - 2.0 / (span + 1)
    return [round(decay**k * (1 << 10)) for k in range(horizon)]


_FORCE_W = _force_weights(13, 40)
_FORCE_NUM_SQL, _FORCE_DEN_SQL = _kernel_sql(_FORCE_W, "x")


@_q(
    "window_force_index",
    f"""
    WITH daily AS ({_DAILY_HLC_SQL}
    ), d AS (
      SELECT day, cls, n_orders,
             LAG(cls) OVER (ORDER BY day) AS pcls
      FROM daily
    ), xs AS (
      SELECT day,
             CASE WHEN pcls IS NOT NULL THEN
               (CASE WHEN cls < pcls THEN -1 ELSE 1 END
                * (abs(cls - pcls) // 100)) * n_orders END AS x
      FROM d
    ), terms AS (
      SELECT day, x,
             {_FORCE_NUM_SQL} AS num,
             {_FORCE_DEN_SQL} AS den
      FROM xs
      WINDOW w AS (ORDER BY day)
    )
    SELECT day, x,
           CASE WHEN den > 0 THEN
             CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END
             AS force_ema13
    FROM terms
    """,
)
def window_force_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Force index EMA(13) over x_t = (close_t - close_{t-1} in whole
    dollars) * daily order count (volume) — the effort-confirmation
    signal (ROADMAP_r14 #14). close is the floor-mean order value, so
    the delta is scale-invariant (< the max single-order price, ~6e5
    dollars) and the BIGINT budget is carried by volume alone
    (_force_weights). The dollar truncation is sign-split —
    sign * (|delta| // 100) — because Spark's div truncates toward
    zero while DuckDB's // floors (the Theil-Sen lesson). Warm-up day
    has no delta: x NULL, kernel renormalizes over present weight
    mass, den = 0 only before any x exists."""
    daily = _daily_hlc(spark, sf_dir)
    lw = Window.orderBy("day")
    d = daily.select(
        "day", "cls", "n_orders", F.lag("cls").over(lw).alias("pcls")
    )
    xs = d.select(
        "day",
        F.when(
            F.col("pcls").isNotNull(),
            F.when(F.col("cls") < F.col("pcls"), -1).otherwise(1)
            * F.expr("abs(cls - pcls) div 100")
            * F.col("n_orders"),
        ).alias("x"),
    )
    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for k, wt in enumerate(_FORCE_W):
        lagged = F.col("x") if k == 0 else F.lag("x", k).over(lw)
        num = num + F.coalesce(lagged * wt, F.lit(0))
        den = den + F.when(lagged.isNotNull(), wt).otherwise(0)
    terms = xs.select("day", "x", num.alias("num"), den.alias("den"))
    return terms.select(
        "day",
        "x",
        F.when(
            F.col("den") > 0,
            F.col("num").cast("double") / F.col("den").cast("double"),
        ).alias("force_ema13"),
    )


@_q(
    "window_donchian_width_percentile",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}
    ), widths AS (
      SELECT day, cents,
             MAX(cents) OVER w20 - MIN(cents) OVER w20 AS width,
             CAST(COUNT(*) OVER w20 AS BIGINT) AS n20
      FROM daily
      WINDOW w20 AS (ORDER BY day ROWS BETWEEN 19 PRECEDING
                     AND CURRENT ROW)
    ), framed AS (
      SELECT day, width, n20,
             list(width) OVER (ORDER BY day
               ROWS BETWEEN 249 PRECEDING AND CURRENT ROW) AS lst
      FROM widths
    )
    SELECT day, width, n20,
           CAST(len(lst) AS BIGINT) AS hist_n,
           CAST(len(list_filter(lst, v -> v <= width)) AS BIGINT) AS n_le,
           CAST(len(list_filter(lst, v -> v <= width)) AS DOUBLE)
             / CAST(len(lst) AS DOUBLE) AS width_pct_rank
    FROM framed
    """,
)
def window_donchian_width_percentile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Today's 20-day Donchian channel width as its percentile rank in
    the trailing 250-day width history — the volatility-squeeze screen
    (ROADMAP_r14 #17). Width = max - min over the 20-row frame
    (warm-up frames use the rows present, reported via n20 — keeping
    every width non-NULL sidesteps the engines' differing NULL
    treatment inside list aggregates); the rank reuses the
    windowed-list formulation validated for window_price_percentile_
    rank (a frame aggregate cannot reference the current row, so the
    250-frame materializes as a list and the count happens outside).
    Pure integer comparisons; one division by the always-positive
    history size. 250-element arrays over the |days|-bounded series."""
    daily = daily_cents(spark, sf_dir)
    w20 = Window.orderBy("day").rowsBetween(-19, 0)
    widths = daily.select(
        "day",
        (F.max("cents").over(w20) - F.min("cents").over(w20)).alias(
            "width"
        ),
        F.count("*").over(w20).cast("bigint").alias("n20"),
    )
    w250 = Window.orderBy("day").rowsBetween(-249, 0)
    framed = widths.select(
        "day",
        "width",
        "n20",
        F.collect_list("width").over(w250).alias("lst"),
    )
    n_le = F.expr("size(filter(lst, v -> v <= width))").cast("bigint")
    return framed.select(
        "day",
        "width",
        "n20",
        F.size("lst").cast("bigint").alias("hist_n"),
        n_le.alias("n_le"),
        (n_le.cast("double") / F.size("lst").cast("double")).alias(
            "width_pct_rank"
        ),
    )


# --- round 15 wave-1 pre-builds: elder ray, classic pivots -----------------

_EMA13_W = _ema_weights(13, 26)
_E13_NUM, _E13_DEN = _ema_sql(_EMA13_W)


@_q(
    "window_elder_ray",
    f"""
    WITH daily AS ({_DAILY_HLC_SQL}
    ), terms AS (
      SELECT day, hi, lo, cls AS cents,
             {_E13_NUM} AS num13,
             {_E13_DEN} AS den13
      FROM (SELECT day, hi, lo, cls, cls AS cents FROM daily)
      WINDOW w AS (ORDER BY day)
    )
    SELECT day, hi, lo, cents AS cls,
           CAST(num13 AS DOUBLE) / CAST(den13 AS DOUBLE) / 100.0 AS ema13,
           CAST(hi AS DOUBLE) / 100.0
             - CAST(num13 AS DOUBLE) / CAST(den13 AS DOUBLE) / 100.0
             AS bull_power,
           CAST(lo AS DOUBLE) / 100.0
             - CAST(num13 AS DOUBLE) / CAST(den13 AS DOUBLE) / 100.0
             AS bear_power
    FROM terms
    """,
)
def window_elder_ray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder-ray bull/bear power on the daily pseudo-OHLC spine
    (_daily_hlc): bull = hi - EMA13(close), bear = lo - EMA13(close),
    where close is the spine's floor-mean order cents (same scale as
    hi/lo, the documented _daily_hlc deviation) and EMA13 is the
    bounded integer-weight kernel round((1-2/14)^k * 2^20) truncated
    at 26 terms (<2% tail mass) with present-weight renormalization —
    the window_ema_macd prescription, zero runtime libm. Budget: 2^20
    x hi-scale cents (<2^38 at 100 TB single-order prices) x 26 terms
    < 2^63. One day rollup + one ordered window over the
    |days|-bounded series; the three outputs share the kernel."""
    daily = _daily_hlc(spark, sf_dir).withColumnRenamed("cls", "cents")
    w = Window.orderBy("day")
    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for k, wt in enumerate(_EMA13_W):
        lagged = F.col("cents") if k == 0 else F.lag("cents", k).over(w)
        num = num + F.coalesce(lagged * wt, F.lit(0))
        den = den + F.when(lagged.isNotNull(), wt).otherwise(0)
    terms = daily.select(
        "day", "hi", "lo", "cents",
        num.alias("num13"), den.alias("den13"),
    )
    ema = (
        F.col("num13").cast("double") / F.col("den13").cast("double")
        / 100.0
    )
    return terms.select(
        "day",
        "hi",
        "lo",
        F.col("cents").alias("cls"),
        ema.alias("ema13"),
        (F.col("hi").cast("double") / 100.0 - ema).alias("bull_power"),
        (F.col("lo").cast("double") / 100.0 - ema).alias("bear_power"),
    )


@_q(
    "window_pivot_points",
    f"""
    WITH daily AS ({_DAILY_HLC_SQL}
    ), lagged AS (
      SELECT day, cls,
             LAG(hi) OVER (ORDER BY day) AS ph,
             LAG(lo) OVER (ORDER BY day) AS pl,
             LAG(cls) OVER (ORDER BY day) AS pc
      FROM daily
    ), piv AS (
      SELECT day, cls, ph, pl, pc,
             ph + pl + pc AS p3
      FROM lagged
    )
    SELECT day,
           CAST(cls AS DOUBLE) / 100.0 AS cls,
           CAST(p3 AS DOUBLE) / 300.0 AS pivot,
           CAST(2 * p3 - 3 * pl AS DOUBLE) / 300.0 AS r1,
           CAST(2 * p3 - 3 * ph AS DOUBLE) / 300.0 AS s1,
           CASE WHEN p3 IS NULL THEN 'warmup'
                WHEN 3 * cls > 2 * p3 - 3 * pl THEN 'above_r1'
                WHEN 3 * cls < 2 * p3 - 3 * ph THEN 'below_s1'
                ELSE 'inside' END AS band_position
    FROM piv
    """,
)
def window_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic daily pivot points from the PRIOR day's hi/lo/close on
    the pseudo-OHLC spine: pivot = (h+l+c)/3, r1 = 2*pivot - l, s1 =
    2*pivot - h, plus today's close position within the [s1, r1] band.
    The band classification is pure integer cross-multiplication
    (3*cls vs 2*p3 - 3*pl — no float ever enters a comparison); the
    emitted pivot/r1/s1 are single exact-int-to-double divisions
    (/300 = x3 fixed point -> dollars), deterministic in both
    engines. Warm-up day (no prior) labels 'warmup' with NULL levels.
    One window pass over the |days|-bounded spine."""
    daily = _daily_hlc(spark, sf_dir)
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "cls",
        F.lag("hi").over(w).alias("ph"),
        F.lag("lo").over(w).alias("pl"),
        F.lag("cls").over(w).alias("pc"),
    )
    piv = lagged.select(
        "day", "cls", "ph", "pl", "pc",
        (F.col("ph") + F.col("pl") + F.col("pc")).alias("p3"),
    )
    r1_x3 = 2 * F.col("p3") - 3 * F.col("pl")
    s1_x3 = 2 * F.col("p3") - 3 * F.col("ph")
    return piv.select(
        "day",
        (F.col("cls").cast("double") / 100.0).alias("cls"),
        (F.col("p3").cast("double") / 300.0).alias("pivot"),
        (r1_x3.cast("double") / 300.0).alias("r1"),
        (s1_x3.cast("double") / 300.0).alias("s1"),
        F.when(F.col("p3").isNull(), "warmup")
        .when(3 * F.col("cls") > r1_x3, "above_r1")
        .when(3 * F.col("cls") < s1_x3, "below_s1")
        .otherwise("inside")
        .alias("band_position"),
    )


# --- round 15 wave-2 pre-builds: Chaikin volatility, CCI, robust z ---------

_EMA10_W = _ema_weights(10, 24)
_E10_NUM, _E10_DEN = _ema_sql(_EMA10_W)


@_q(
    "window_chaikin_volatility",
    f"""
    WITH daily AS ({_DAILY_HLC_SQL}
    ), rng AS (
      SELECT day, hi - lo AS cents FROM daily
    ), terms AS (
      SELECT day, cents,
             {_E10_NUM} AS num10,
             {_E10_DEN} AS den10
      FROM rng
      WINDOW w AS (ORDER BY day)
    ), snapped AS (
      SELECT day, cents,
             CAST(round(CAST(num10 AS DOUBLE) / CAST(den10 AS DOUBLE)
                        * 1000000000.0) AS BIGINT) AS ema_fp
      FROM terms
    ), lagged AS (
      SELECT day, cents, ema_fp,
             LAG(ema_fp, 10) OVER (ORDER BY day) AS ema_fp_10
      FROM snapped
    )
    SELECT day, cents AS range_cents,
           CAST(ema_fp AS DOUBLE) / 1000000000.0 / 100.0 AS ema10_range,
           CASE WHEN ema_fp_10 > 0 THEN
             100.0 * (CAST(ema_fp AS DOUBLE) - CAST(ema_fp_10 AS DOUBLE))
             / CAST(ema_fp_10 AS DOUBLE)
           END AS chaikin_volatility
    FROM lagged
    """,
)
def window_chaikin_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin volatility: 10-day rate of change of EMA10(daily hi-lo
    range) on the pseudo-OHLC spine — the reversal-bulge screen that
    reads widening ranges as building volatility. The EMA rides the
    bounded integer-weight kernel (24 taps, <2% dropped tail), and
    each row's EMA is SNAPPED to the 1e-9 fixed-point lattice BEFORE
    the 10-row lag ratio (the TRIX guard discipline: the ratio must
    compare two identically-snapped BIGINTs, never two raw double
    chains); one guarded division (flat 10-back range -> NULL).
    Budget: range < 2^38 cents x 2^20 weights x 24 terms < 2^63; the
    1e9 snap of a <= 2^38-cent EMA stays under 2^53 in the double.
    One day rollup + one ordered window."""
    daily = _daily_hlc(spark, sf_dir)
    rng = daily.select("day", (F.col("hi") - F.col("lo")).alias("cents"))
    w = Window.orderBy("day")
    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for k, wt in enumerate(_EMA10_W):
        lagged = F.col("cents") if k == 0 else F.lag("cents", k).over(w)
        num = num + F.coalesce(lagged * wt, F.lit(0))
        den = den + F.when(lagged.isNotNull(), wt).otherwise(0)
    snapped = rng.select(
        "day",
        "cents",
        F.round(
            num.cast("double") / den.cast("double") * 1000000000.0, 0
        )
        .cast("bigint")
        .alias("ema_fp"),
    )
    lagged = snapped.select(
        "day",
        "cents",
        "ema_fp",
        F.lag("ema_fp", 10).over(w).alias("ema_fp_10"),
    )
    return lagged.select(
        "day",
        F.col("cents").alias("range_cents"),
        (F.col("ema_fp").cast("double") / 1000000000.0 / 100.0).alias(
            "ema10_range"
        ),
        F.when(
            F.col("ema_fp_10") > 0,
            F.lit(100.0)
            * (
                F.col("ema_fp").cast("double")
                - F.col("ema_fp_10").cast("double")
            )
            / F.col("ema_fp_10").cast("double"),
        ).alias("chaikin_volatility"),
    )


@_q(
    "window_cci",
    f"""
    WITH daily AS ({_DAILY_HLC_SQL}
    ), tp AS (
      SELECT day, hi + lo + cls AS tp3 FROM daily
    ), framed AS (
      SELECT day, tp3,
             CAST(SUM(tp3) OVER w AS BIGINT) AS sum3,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             list(tp3) OVER w AS lst
      FROM tp
      WINDOW w AS (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), dev AS (
      SELECT day, tp3, sum3, n,
             CAST(list_aggregate(
               list_transform(lst, x -> abs(x * n - sum3)), 'sum')
               AS BIGINT) AS s_dev
      FROM framed
    )
    SELECT day, n AS frame_n,
           CAST(tp3 AS DOUBLE) / 300.0 AS typical_price,
           CASE WHEN s_dev > 0 THEN
             CAST((tp3 * n - sum3) * n * 1000 AS DOUBLE)
             / CAST(15 * s_dev AS DOUBLE)
           END AS cci20
    FROM dev
    """,
)
def window_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commodity Channel Index CCI(20) = (tp - SMA20(tp)) / (0.015 *
    mean|tp - SMA20|) on the pseudo-OHLC spine, computed ENTIRELY on
    the integer lattice: with tp3 = hi+lo+cls (3x the typical price —
    the scale cancels), the mean absolute deviation needs the frame
    AND its own mean, so the frame is materialized as a windowed list
    (the percentile-rank precedent) and every deviation term is the
    exact integer |tp3_j*n - sum3|; the closed form collapses to
    (tp3*n - sum3)*n*1000 / (15*S) — ONE guarded division, zero
    intermediate floats. Budget: tp3 < 2^40 cents, x n(<=20) x 1000
    < 2^55. 20-element arrays over the |days|-bounded spine."""
    daily = _daily_hlc(spark, sf_dir)
    tp = daily.select(
        "day", (F.col("hi") + F.col("lo") + F.col("cls")).alias("tp3")
    )
    w = Window.orderBy("day").rowsBetween(-19, 0)
    framed = tp.select(
        "day",
        "tp3",
        F.sum("tp3").over(w).cast("bigint").alias("sum3"),
        F.count("*").over(w).cast("bigint").alias("n"),
        F.collect_list("tp3").over(w).alias("lst"),
    )
    dev = framed.select(
        "day",
        "tp3",
        "sum3",
        "n",
        F.expr(
            "aggregate(transform(lst, x -> abs(x * n - sum3)),"
            " 0L, (a, x) -> a + x)"
        )
        .cast("bigint")
        .alias("s_dev"),
    )
    return dev.select(
        "day",
        F.col("n").alias("frame_n"),
        (F.col("tp3").cast("double") / 300.0).alias("typical_price"),
        F.when(
            F.col("s_dev") > 0,
            (
                (F.col("tp3") * F.col("n") - F.col("sum3"))
                * F.col("n")
                * 1000
            ).cast("double")
            / (15 * F.col("s_dev")).cast("double"),
        ).alias("cci20"),
    )


@_q(
    "window_robust_frame_zscore",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), framed AS (
      SELECT day, cents,
             list(cents) OVER (ORDER BY day
               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS lst
      FROM daily
    ), med AS (
      SELECT day, cents, lst,
             CAST(len(lst) AS BIGINT) AS n,
             list_sort(lst)[(len(lst) + 1) // 2] AS frame_med
      FROM framed
    ), mad AS (
      SELECT day, cents, n, frame_med,
             list_sort(list_transform(lst, x -> abs(x - frame_med)))
               [(n + 1) // 2] AS frame_mad
      FROM med
    )
    SELECT day, cents, n AS frame_n,
           CAST(frame_med AS BIGINT) AS frame_med,
           CAST(frame_mad AS BIGINT) AS frame_mad,
           CASE WHEN frame_mad > 0 THEN
             CAST(cents - frame_med AS DOUBLE) / CAST(frame_mad AS DOUBLE)
           END AS robust_z
    FROM mad
    """,
)
def window_robust_frame_zscore(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust rolling z-score: (cents - frame_median) / frame_MAD over
    the trailing 30 days — the robust twin of window_gap_zscore
    (whose mean/stddev a single spike drags around; the median/MAD
    pair shrugs it off). Frame median and MAD are TYPE-1 picks at
    rank (n+1) div 2 on the SORTED windowed list (array indexing is
    1-based in BOTH engines), deviations are exact integers, and the
    only float is the final guarded division (MAD = 0 on a
    majority-constant frame -> NULL, documented). 30-element arrays
    over the |days|-bounded spine."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(-29, 0)
    framed = daily.select(
        "day", "cents", F.collect_list("cents").over(w).alias("lst")
    )
    med = framed.select(
        "day",
        "cents",
        "lst",
        F.size("lst").cast("bigint").alias("n"),
        F.expr(
            "element_at(array_sort(lst),"
            " CAST((size(lst) + 1) div 2 AS INT))"
        ).alias("frame_med"),
    )
    mad = med.select(
        "day",
        "cents",
        "n",
        "frame_med",
        F.expr(
            "element_at(array_sort(transform(lst,"
            " x -> abs(x - frame_med))), CAST((n + 1) div 2 AS INT))"
        ).alias("frame_mad"),
    )
    return mad.select(
        "day",
        "cents",
        F.col("n").alias("frame_n"),
        F.col("frame_med").cast("bigint").alias("frame_med"),
        F.col("frame_mad").cast("bigint").alias("frame_mad"),
        F.when(
            F.col("frame_mad") > 0,
            (F.col("cents") - F.col("frame_med")).cast("double")
            / F.col("frame_mad").cast("double"),
        ).alias("robust_z"),
    )


# --- round 15 wave-2 pre-build: Coppock curve ------------------------------

_COPPOCK_NUM = " + ".join(
    f"COALESCE(LAG(sum_fp, {k}) OVER w2 * {10 - k}, 0)" if k else
    f"COALESCE(sum_fp * {10 - k}, 0)"
    for k in range(10)
)
_COPPOCK_DEN = " + ".join(
    f"CASE WHEN LAG(sum_fp, {k}) OVER w2 IS NOT NULL THEN {10 - k} ELSE 0 END"
    if k else
    f"CASE WHEN sum_fp IS NOT NULL THEN {10 - k} ELSE 0 END"
    for k in range(10)
)


@_q(
    "window_coppock_curve",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), r AS (
      SELECT day, cents,
             CASE WHEN LAG(cents, 14) OVER w IS NOT NULL THEN
               CAST(round((CAST(cents AS DOUBLE)
                           - CAST(LAG(cents, 14) OVER w AS DOUBLE))
                          / CAST(LAG(cents, 14) OVER w AS DOUBLE)
                          * 1000000000.0) AS BIGINT) END AS roc14_fp,
             CASE WHEN LAG(cents, 11) OVER w IS NOT NULL THEN
               CAST(round((CAST(cents AS DOUBLE)
                           - CAST(LAG(cents, 11) OVER w AS DOUBLE))
                          / CAST(LAG(cents, 11) OVER w AS DOUBLE)
                          * 1000000000.0) AS BIGINT) END AS roc11_fp
      FROM daily
      WINDOW w AS (ORDER BY day)
    ), s AS (
      SELECT day, cents, roc14_fp, roc11_fp,
             CASE WHEN roc14_fp IS NOT NULL AND roc11_fp IS NOT NULL
               THEN roc14_fp + roc11_fp END AS sum_fp
      FROM r
    ), wma AS (
      SELECT day, cents, roc14_fp, roc11_fp,
             {_COPPOCK_NUM} AS num,
             {_COPPOCK_DEN} AS den
      FROM s
      WINDOW w2 AS (ORDER BY day)
    )
    SELECT day, cents,
           CAST(roc14_fp AS DOUBLE) / 1000000000.0 AS roc_14,
           CAST(roc11_fp AS DOUBLE) / 1000000000.0 AS roc_11,
           CASE WHEN den > 0 THEN
             CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1000000000.0
           END AS coppock
    FROM wma
    """,
)
def window_coppock_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coppock curve (ROADMAP_r15 #11): front-weighted WMA10 of
    (ROC14 + ROC11) on the daily-revenue series — the long-horizon
    momentum bottom-finder. Two-stage snap budget, documented: each
    per-row ROC ratio is snapped to the 1e-9 fixed-point lattice as a
    BIGINT (|roc| < 2^10 at any SF -> fp < 2^40, exact in the double
    before the round), the two fps ADD on the integer lattice (never
    re-divide), and the WMA is a pure integer-weight kernel (10..1
    triangular, null-aware denominator like the EMA discipline) whose
    numerator tops out below 2^40 x 55 < 2^46 — the one terminal
    division produces the reported double. Warm-up rows surface as
    NULL roc/coppock, not phantom zeros (the chande lag-NULL lesson).
    One day rollup + one ordered window; at scale the unpartitioned
    ORDER BY day spine is |days| rows, driver-safe."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day")

    def roc_fp(k):
        lagged = F.lag("cents", k).over(w)
        return F.when(
            lagged.isNotNull(),
            F.round(
                (F.col("cents").cast("double") - lagged.cast("double"))
                / lagged.cast("double")
                * 1000000000.0,
                0,
            ).cast("bigint"),
        )

    r = daily.select(
        "day", "cents", roc_fp(14).alias("roc14_fp"), roc_fp(11).alias("roc11_fp")
    )
    s = r.select(
        "day",
        "cents",
        "roc14_fp",
        "roc11_fp",
        F.when(
            F.col("roc14_fp").isNotNull() & F.col("roc11_fp").isNotNull(),
            F.col("roc14_fp") + F.col("roc11_fp"),
        ).alias("sum_fp"),
    )
    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for k in range(10):
        lagged = F.col("sum_fp") if k == 0 else F.lag("sum_fp", k).over(w)
        num = num + F.coalesce(lagged * (10 - k), F.lit(0))
        den = den + F.when(lagged.isNotNull(), 10 - k).otherwise(0)
    wma = s.select(
        "day", "cents", "roc14_fp", "roc11_fp",
        num.alias("num"), den.alias("den"),
    )
    return wma.select(
        "day",
        "cents",
        (F.col("roc14_fp").cast("double") / 1000000000.0).alias("roc_14"),
        (F.col("roc11_fp").cast("double") / 1000000000.0).alias("roc_11"),
        F.when(
            F.col("den") > 0,
            F.col("num").cast("double")
            / F.col("den").cast("double")
            / 1000000000.0,
        ).alias("coppock"),
    )


# --- round 16 wave-1 pre-build: median-crossing run lengths -----------------


@_q(
    "window_median_crossing_runs",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), per AS (
      SELECT cents AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM daily GROUP BY cents
    ), cum AS (
      SELECT v, SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
      FROM per
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
    med AS (
      SELECT MIN(v) AS m FROM cum CROSS JOIN tot
      WHERE cumc >= (n_days + 1) // 2
    ), marked AS (
      SELECT day,
             CASE WHEN cents > m THEN 'above' ELSE 'below' END AS side
      FROM daily CROSS JOIN med
      WHERE cents <> m
    ), seq AS (
      SELECT side,
             ROW_NUMBER() OVER (ORDER BY day) AS rn,
             ROW_NUMBER() OVER (PARTITION BY side ORDER BY day) AS rs
      FROM marked
    ), runs AS (
      SELECT side, rn - rs AS grp, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM seq GROUP BY side, rn - rs
    )
    SELECT side,
           CAST(LEAST(run_len, 30) AS BIGINT) AS run_length_capped,
           CAST(COUNT(*) AS BIGINT) AS n_runs
    FROM runs
    GROUP BY side, LEAST(run_len, 30)
    """,
)
def window_median_crossing_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-crossing run-length distribution (ROADMAP_r16 #12): the
    graded runs TEST grades the run COUNT against its expectation;
    this entry grades the run LENGTH histogram — long above-median
    runs are regimes, an excess of length-1 runs is mean-reversion,
    and neither moves the count statistic much. The global median is
    the TYPE-1 per-value cut (min value with cumulative count >=
    ceil(n/2)); days exactly AT the median are DROPPED (stated rule,
    the standard sign-test treatment, matching the Cox-Stuart tie
    handling); runs come from the rn - rs gap-islands idiom and the
    histogram is capped at 30 (the absence-streaks precedent, cap
    stated). Exact integers end to end, no division; the only
    unpartitioned windows ride the |days| spine."""
    daily = daily_cents(spark, sf_dir)
    daily = materialize_reduced(daily)
    per = daily.groupBy(F.col("cents").alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select("v", F.sum("c").over(wv).alias("cumc"))
    tot = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cumc") >= F.expr("(n_days + 1) div 2"))
        .agg(F.min("v").alias("m"))
    )
    marked = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("cents") != F.col("m"))
        .select(
            "day",
            F.when(F.col("cents") > F.col("m"), "above")
            .otherwise("below")
            .alias("side"),
        )
    )
    seq = marked.select(
        "side",
        F.row_number().over(Window.orderBy("day")).alias("rn"),
        F.row_number()
        .over(Window.partitionBy("side").orderBy("day"))
        .alias("rs"),
    )
    runs = seq.groupBy(
        "side", (F.col("rn") - F.col("rs")).alias("grp")
    ).agg(F.count("*").cast("bigint").alias("run_len"))
    return runs.groupBy(
        "side",
        F.least(F.col("run_len"), F.lit(30))
        .cast("bigint")
        .alias("run_length_capped"),
    ).agg(F.count("*").cast("bigint").alias("n_runs"))


# --- round 16 wave 2: awesome oscillator ------------------------------------


@_q(
    "window_awesome_oscillator",
    f"""
    WITH daily AS ({_DAILY_HLC_SQL}
    ), m AS (
      SELECT day, hi + lo AS m2,
             ROW_NUMBER() OVER (ORDER BY day) AS rn,
             CAST(SUM(hi + lo) OVER (ORDER BY day
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS s5,
             CAST(SUM(hi + lo) OVER (ORDER BY day
                  ROWS BETWEEN 33 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS s34
      FROM daily
    )
    SELECT day, m2 // 2 AS mid_cents,
           CASE WHEN rn >= 5 THEN
             CAST(s5 AS DOUBLE) / 5.0 / 200.0 END AS sma5_mid,
           CASE WHEN rn >= 34 THEN
             CAST(s34 AS DOUBLE) / 34.0 / 200.0 END AS sma34_mid,
           CASE WHEN rn >= 34 THEN
             (CAST(s5 AS DOUBLE) / 5.0 - CAST(s34 AS DOUBLE) / 34.0)
             / 200.0 END AS awesome_oscillator
    FROM m
    """,
)
def window_awesome_oscillator(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Awesome oscillator on the daily pseudo-OHLC spine (ROADMAP_r16
    #10): SMA5(midpoint) - SMA34(midpoint), the two-horizon momentum
    gauge. The midpoint rides the 2x-scaled integer lattice m2 = hi +
    lo (cents; never halved until display, so no fractional lattice
    exists anywhere), both SMAs are exact BIGINT frame sums divided
    once at the end, and the subtraction happens in ONE fixed IEEE
    chain with the /200 (half-of-cents) display conversion last.
    Warm-up contract: sma5 NULL before row 5, sma34 and the
    oscillator NULL before row 34 (full frames only — a short-frame
    average would silently re-weight the series head). Budget: m2 <=
    2^28-scale cents x 34-row frames < 2^63 by orders of magnitude.
    One day rollup + one ordered window."""
    daily = _daily_hlc(spark, sf_dir)
    w = Window.orderBy("day")
    m = daily.select(
        "day",
        (F.col("hi") + F.col("lo")).alias("m2"),
        F.row_number().over(w).alias("rn"),
        F.sum(F.col("hi") + F.col("lo"))
        .over(w.rowsBetween(-4, 0))
        .cast("bigint")
        .alias("s5"),
        F.sum(F.col("hi") + F.col("lo"))
        .over(w.rowsBetween(-33, 0))
        .cast("bigint")
        .alias("s34"),
    )
    return m.select(
        "day",
        F.expr("m2 div 2").alias("mid_cents"),
        F.when(
            F.col("rn") >= 5,
            F.col("s5").cast("double") / 5.0 / 200.0,
        ).alias("sma5_mid"),
        F.when(
            F.col("rn") >= 34,
            F.col("s34").cast("double") / 34.0 / 200.0,
        ).alias("sma34_mid"),
        F.when(
            F.col("rn") >= 34,
            (
                F.col("s5").cast("double") / 5.0
                - F.col("s34").cast("double") / 34.0
            )
            / 200.0,
        ).alias("awesome_oscillator"),
    )


# --- round 16 wave 2: ease of movement --------------------------------------

_EMA14_W = _ema_weights(14, 28)


def _emv_ema_sql() -> tuple[str, str]:
    num, den = [], []
    for k, wt in enumerate(_EMA14_W):
        lag = f"LAG(emv, {k}) OVER w" if k else "emv"
        num.append(f"COALESCE({lag} * {wt}, 0)")
        den.append(f"CASE WHEN {lag} IS NOT NULL THEN {wt} ELSE 0 END")
    return " + ".join(num), " + ".join(den)


_EMV_NUM, _EMV_DEN = _emv_ema_sql()


@_q(
    "window_ease_of_movement",
    f"""
    WITH daily AS ({_DAILY_HLC_SQL}
    ), m AS (
      SELECT day, hi, lo, n_orders,
             (hi + lo) - LAG(hi + lo) OVER (ORDER BY day) AS dm2
      FROM daily
    ), e AS (
      SELECT day,
             CAST(round(CAST(dm2 * (hi - lo) AS DOUBLE)
                  / (2.0 * CAST(n_orders AS DOUBLE)) / 10000.0)
                  AS BIGINT) AS emv
      FROM m
    ), t AS (
      SELECT day, emv,
             {_EMV_NUM} AS num14,
             {_EMV_DEN} AS den14
      FROM e WINDOW w AS (ORDER BY day)
    )
    SELECT day, emv AS emv_usd2,
           CASE WHEN emv IS NOT NULL THEN
             CAST(num14 AS DOUBLE) / CAST(den14 AS DOUBLE)
           END AS emv_ema14
    FROM t
    """,
)
def window_ease_of_movement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ease of movement EMV(14) on the daily pseudo-OHLC spine
    (ROADMAP_r16 #13): midpoint move scaled by the range/volume box
    ratio — EMV = mid_move * range / volume — then EMA(14)-smoothed
    with the shared integer-weight kernel. Factor bounds (stated per
    the two-stage Coppock discipline): mid move dm2 <= 2 x hi-scale
    cents (~2^28), range hi-lo <= 2^27, volume n_orders >= 1, so the
    integer product dm2*(hi-lo) < 2^55 per row; the composed EMV is
    snapped ONCE to the dollars^2-per-order lattice (round of one
    fixed double chain, /1e4 from cents^2) giving |emv| < 2^39, and
    the 2^20-scale EMA weights then keep every kernel term under
    2^60 across 28 lags. Day 1 has no midpoint move: its EMV and
    smoothed EMV are NULL (the kernel's null-aware renormalization
    simply drops the missing lag for later days). One day rollup +
    two ordered windows."""
    daily = _daily_hlc(spark, sf_dir)
    w = Window.orderBy("day")
    m = daily.select(
        "day",
        "hi",
        "lo",
        "n_orders",
        (
            (F.col("hi") + F.col("lo"))
            - F.lag(F.col("hi") + F.col("lo")).over(w)
        ).alias("dm2"),
    )
    e = m.select(
        "day",
        F.round(
            (F.col("dm2") * (F.col("hi") - F.col("lo"))).cast("double")
            / (F.lit(2.0) * F.col("n_orders").cast("double"))
            / 10000.0,
            0,
        )
        .cast("bigint")
        .alias("emv"),
    )
    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for k, wt in enumerate(_EMA14_W):
        lagged = F.col("emv") if k == 0 else F.lag("emv", k).over(w)
        num = num + F.coalesce(lagged * wt, F.lit(0))
        den = den + F.when(lagged.isNotNull(), wt).otherwise(0)
    t = e.select("day", "emv", num.alias("num14"), den.alias("den14"))
    return t.select(
        "day",
        F.col("emv").alias("emv_usd2"),
        F.when(
            F.col("emv").isNotNull(),
            F.col("num14").cast("double") / F.col("den14").cast("double"),
        ).alias("emv_ema14"),
    )


# --- round 16 wave 2: Connors RSI composite ---------------------------------


@_q(
    "window_connors_rsi",
    """
    WITH o AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(o_totalprice AS DECIMAL(30,4)) AS price
      FROM orders
    ), daily AS (
      SELECT day, CAST(SUM(price) * 100 AS BIGINT) AS revenue_cents
      FROM o GROUP BY day
    ), seq AS (
      SELECT day, revenue_cents,
             revenue_cents - LAG(revenue_cents) OVER (ORDER BY day) AS dx,
             LAG(revenue_cents) OVER (ORDER BY day) AS prev,
             ROW_NUMBER() OVER (ORDER BY day) AS rn
      FROM daily
    ), sg AS (
      SELECT day, rn, dx, prev,
             CASE WHEN dx > 0 THEN 1 WHEN dx < 0 THEN -1 ELSE 0 END AS sgn
      FROM seq WHERE dx IS NOT NULL
    ), bnd AS (
      SELECT day, rn, dx, prev, sgn,
             CASE WHEN LAG(sgn) OVER (ORDER BY day) IS NULL
                   OR sgn <> LAG(sgn) OVER (ORDER BY day)
                  THEN 1 ELSE 0 END AS st
      FROM sg
    ), rid AS (
      SELECT day, rn, dx, prev, sgn,
             CAST(SUM(st) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
      FROM bnd
    ), stk AS (
      SELECT day, rn, dx, prev,
             sgn * CAST(ROW_NUMBER() OVER (PARTITION BY run_id
                                           ORDER BY day) AS BIGINT)
               AS streak
      FROM rid
    ), s2 AS (
      SELECT day, rn, dx, prev, streak,
             streak - LAG(streak) OVER (ORDER BY day) AS sdx
      FROM stk
    ), k AS (
      SELECT day, rn, streak,
             CAST(SUM(CASE WHEN dx > 0 THEN dx ELSE 0 END)
                  OVER (ORDER BY day ROWS BETWEEN 2 PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS g3,
             CAST(SUM(CASE WHEN dx < 0 THEN -dx ELSE 0 END)
                  OVER (ORDER BY day ROWS BETWEEN 2 PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS l3,
             CAST(SUM(CASE WHEN sdx > 0 THEN sdx ELSE 0 END)
                  OVER (ORDER BY day ROWS BETWEEN 1 PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS g2,
             CAST(SUM(CASE WHEN sdx < 0 THEN -sdx ELSE 0 END)
                  OVER (ORDER BY day ROWS BETWEEN 1 PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS l2,
             100.0 * PERCENT_RANK() OVER (
               ORDER BY CAST(round(1000000000.0 * CAST(dx AS DOUBLE)
                             / CAST(prev AS DOUBLE)) AS BIGINT))
               AS pct100
      FROM s2
    )
    SELECT day, streak,
           CASE WHEN g3 + l3 = 0 THEN 50e0
                ELSE 100e0 * g3 / (g3 + l3) END AS rsi3,
           CASE WHEN g2 + l2 = 0 THEN 50e0
                ELSE 100e0 * g2 / (g2 + l2) END AS streak_rsi2,
           pct100 AS roc_pct_rank,
           (CASE WHEN g3 + l3 = 0 THEN 50e0
                 ELSE 100e0 * g3 / (g3 + l3) END
            + CASE WHEN g2 + l2 = 0 THEN 50e0
                   ELSE 100e0 * g2 / (g2 + l2) END
            + pct100) / 3.0 AS connors_rsi
    FROM k WHERE rn >= 4
    """,
)
def window_connors_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connors RSI composite (ROADMAP_r16 #11) — three GRADED kernels
    averaged on the fp lattice: (1) RSI(3) of daily revenue deltas in
    the house cumulative form (one exact-BIGINT division, flat frames
    pin to 50 — window_rsi_14's contract at period 3); (2) RSI(2) of
    the SIGNED STREAK series, where the streak is the gaps-and-islands
    run length signed by direction (flat days are their own sgn=0
    runs, so a flat day resets the streak through the sign flip — the
    standard Connors reset); (3) 100x the global percent rank of the
    1-day rate of change, snapped to the 1e-9 fp lattice before
    ranking so ties are exact in both engines (scope stated: rank
    against the WHOLE series, the deterministic batch analog of
    Connors' trailing lookback). Warm-up: emitted from the 4th
    calendar day (3 deltas for RSI3, 2 streak deltas for RSI2).
    Streak budget: |streak| <= |days|, every sum int64-trivial. One
    day rollup + five ordered windows over the bounded spine, no
    joins."""
    daily = daily_revenue_cents(spark, sf_dir)
    w = Window.orderBy("day")
    seq = daily.select(
        "day",
        (F.col("revenue_cents") - F.lag("revenue_cents").over(w)).alias(
            "dx"
        ),
        F.lag("revenue_cents").over(w).alias("prev"),
        F.row_number().over(w).alias("rn"),
    )
    sg = seq.filter(F.col("dx").isNotNull()).select(
        "day",
        "rn",
        "dx",
        "prev",
        F.when(F.col("dx") > 0, 1)
        .when(F.col("dx") < 0, -1)
        .otherwise(0)
        .alias("sgn"),
    )
    lag_sgn = F.lag("sgn").over(w)
    rid = sg.select(
        "day",
        "rn",
        "dx",
        "prev",
        "sgn",
        F.sum(
            F.when(lag_sgn.isNull() | (F.col("sgn") != lag_sgn), 1)
            .otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("run_id"),
    )
    stk = rid.select(
        "day",
        "rn",
        "dx",
        "prev",
        (
            F.col("sgn")
            * F.row_number()
            .over(Window.partitionBy("run_id").orderBy("day"))
            .cast("bigint")
        ).alias("streak"),
    )
    s2 = stk.select(
        "day",
        "rn",
        "dx",
        "prev",
        "streak",
        (F.col("streak") - F.lag("streak").over(w)).alias("sdx"),
    )
    roc_fp = F.round(
        F.lit(1000000000.0)
        * F.col("dx").cast("double")
        / F.col("prev").cast("double"),
        0,
    ).cast("bigint")
    k = s2.select(
        "day",
        "rn",
        "streak",
        F.sum(F.when(F.col("dx") > 0, F.col("dx")).otherwise(0))
        .over(w.rowsBetween(-2, 0))
        .cast("bigint")
        .alias("g3"),
        F.sum(F.when(F.col("dx") < 0, -F.col("dx")).otherwise(0))
        .over(w.rowsBetween(-2, 0))
        .cast("bigint")
        .alias("l3"),
        F.sum(F.when(F.col("sdx") > 0, F.col("sdx")).otherwise(0))
        .over(w.rowsBetween(-1, 0))
        .cast("bigint")
        .alias("g2"),
        F.sum(F.when(F.col("sdx") < 0, -F.col("sdx")).otherwise(0))
        .over(w.rowsBetween(-1, 0))
        .cast("bigint")
        .alias("l2"),
        (
            F.lit(100.0) * F.percent_rank().over(Window.orderBy(roc_fp))
        ).alias("pct100"),
    )
    rsi3 = F.when(F.col("g3") + F.col("l3") == 0, F.lit(50.0)).otherwise(
        F.lit(100.0) * F.col("g3") / (F.col("g3") + F.col("l3"))
    )
    rsi2 = F.when(F.col("g2") + F.col("l2") == 0, F.lit(50.0)).otherwise(
        F.lit(100.0) * F.col("g2") / (F.col("g2") + F.col("l2"))
    )
    return k.filter(F.col("rn") >= 4).select(
        "day",
        "streak",
        rsi3.alias("rsi3"),
        rsi2.alias("streak_rsi2"),
        F.col("pct100").alias("roc_pct_rank"),
        ((rsi3 + rsi2 + F.col("pct100")) / 3.0).alias("connors_rsi"),
    )
