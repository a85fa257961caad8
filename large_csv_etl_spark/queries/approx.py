"""Approximate and exact distributional aggregates (SURVEY.md §2b row
"approx distinct / quantiles").

Two tiers: exact quantiles are oracle-compared bit-for-bit (Spark
``percentile`` and DuckDB ``quantile_cont`` both linearly interpolate the
sorted doubles — verified identical); the sketch-based forms
(HyperLogLog++ ``approx_count_distinct``, KLL/GK ``percentile_approx``)
are engine-specific by construction, so they are registered rows-only and
their error bounds vs the exact answers are pinned in unit tests.

At 100 TB the sketch tier is the one you actually run: HLL++ shuffles a
fixed-size sketch per group instead of |distinct| keys, and the quantile
sketch replaces a full sort with a bounded-memory merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from .helpers import dsum, registry, sql_dsum

QUERIES, ORACLES, _q = registry()


@_q(
    "quantiles_exact",
    """
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.25) AS p25,
           quantile_cont(o_totalprice, 0.50) AS p50,
           quantile_cont(o_totalprice, 0.75) AS p75,
           MEDIAN(o_totalprice) AS med,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (linear interpolation on the sorted
    values; both engines produce the identical IEEE double). One
    array-form ``percentile`` shares a single per-group value map across
    all three cut points (separate scalar calls would each keep their
    own); ``median`` keeps its own aggregate on purpose — it pins the
    med == p50 equivalence in the graded output."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.expr(
                "percentile(o_totalprice, array(0.25, 0.50, 0.75))"
            ).alias("qs"),
            F.median("o_totalprice").alias("med"),
            F.count("*").alias("n"),
        )
        .select(
            "o_orderpriority",
            F.col("qs")[0].alias("p25"),
            F.col("qs")[1].alias("p50"),
            F.col("qs")[2].alias("p75"),
            "med",
            "n",
        )
    )


@_q("approx_distinct_counts")  # HLL++ sketch — engine-specific; rows-only
def approx_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimates (rsd 1%) alongside the exact
    counts, so the relative error is visible in the result itself (and
    asserted < 5% in tests)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_suppkey", 0.01).alias("approx_supps"),
        F.countDistinct("l_suppkey").alias("exact_supps"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )


@_q("approx_quantiles")  # sketch-based — engine-specific; rows-only
def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx at accuracy 10000 per order priority (bounded
    error vs the exact quantiles is asserted in tests)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx_p50"),
            F.percentile_approx("o_totalprice", 0.95, 10000).alias("approx_p95"),
            F.count("*").alias("n"),
        )
    )


# Shared with tests/test_rows_only_bounds.py, which derives the published
# Misra-Gries state bound (ceil(1/support) candidates) from this value so
# the test can't silently assert a stale bound if the support moves.
FREQ_TOKEN_SUPPORT = 0.05


@_q("frequent_tokens_approx")  # Misra-Gries-style sketch — engine-specific; rows-only
def frequent_tokens_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the token stream via ``DataFrame.stat.freqItems``
    (support 5%): the sketch guarantees a SUPERSET of every token whose
    frequency exceeds the support — false positives possible, false
    negatives not (asserted vs exact counts in tests). At 100 TB this is
    the vocab-head discovery pass: single scan, bounded state of
    ~1/support counters per partition, no sort — where the exact
    ``text_top_terms`` pays a full |vocab| shuffle."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    tokens = docs.select(
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("token")
    )
    return tokens.stat.freqItems(["token"], support=FREQ_TOKEN_SUPPORT).select(
        F.explode("token_freqItems").alias("token")
    )


@_q(
    "agg_iqr_outliers",
    """
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.75) AS q3
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag, b.q1, b.q3,
           b.q1 - 1.5 * (b.q3 - b.q1) AS lo,
           b.q3 + 1.5 * (b.q3 - b.q1) AS hi,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN l.l_extendedprice < b.q1 - 1.5 * (b.q3 - b.q1)
                           OR l.l_extendedprice > b.q3 + 1.5 * (b.q3 - b.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY l.l_returnflag, b.q1, b.q3
    """,
)
def agg_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection per group: exact interpolated
    quartiles -> IQR fences -> count of rows outside them. Two passes over
    lineitem, but the per-group fence table is 3 rows (returnflag has fixed
    cardinality regardless of SF), so the second pass joins against a
    broadcast of a genuinely bounded table — scale-safe at 100 TB, unlike
    hinting a SF-proportional dim. Fence arithmetic is written identically
    in both engines (same IEEE ops on the same interpolated doubles)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    # One array-form percentile: two scalar calls would each keep their
    # own per-group value->count map (2x agg state — the same cost class
    # fixed in quantile_binning_decile).
    fences = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25, 0.75))"
            ).alias("qs")
        )
        .select(
            "l_returnflag",
            F.col("qs")[0].alias("q1"),
            F.col("qs")[1].alias("q3"),
        )
        .select(
            "l_returnflag",
            "q1",
            "q3",
            (F.col("q1") - F.lit(1.5) * (F.col("q3") - F.col("q1"))).alias("lo"),
            (F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1"))).alias("hi"),
        )
    )
    out_flag = (F.col("l_extendedprice") < F.col("lo")) | (
        F.col("l_extendedprice") > F.col("hi")
    )
    return (
        li.join(F.broadcast(fences), "l_returnflag")
        .groupBy("l_returnflag", "q1", "q3", "lo", "hi")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(out_flag, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
        )
        .select("l_returnflag", "q1", "q3", "lo", "hi", "n_rows", "n_outliers")
    )


@_q(
    "agg_median_abs_deviation",
    """
    WITH med AS (
      SELECT o_orderpriority, MEDIAN(o_totalprice) AS med_price
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority, m.med_price,
           MEDIAN(ABS(o.o_totalprice - m.med_price)) AS mad,
           COUNT(*) AS n
    FROM orders o JOIN med m USING (o_orderpriority)
    GROUP BY o.o_orderpriority, m.med_price
    """,
)
def agg_median_abs_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion: median absolute deviation around the per-group
    median (the robust twin of stddev — outlier-immune, the scale estimate
    a data-quality gate actually wants). Two grouped median passes; the
    per-group median table has fixed cardinality (order priorities), so the
    join back is a bounded broadcast. ABS/subtraction are single IEEE ops
    on identical doubles; both medians interpolate identically (the proven
    quantile parity)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    med = orders.groupBy("o_orderpriority").agg(
        F.median("o_totalprice").alias("med_price")
    )
    return (
        orders.join(F.broadcast(med), "o_orderpriority")
        .groupBy("o_orderpriority", "med_price")
        .agg(
            F.median(F.abs(F.col("o_totalprice") - F.col("med_price"))).alias("mad"),
            F.count("*").alias("n"),
        )
    )


@_q(
    "quantile_binning_decile",
    """
    WITH cuts AS (
      SELECT quantile_cont(l_extendedprice, 0.1) AS c1,
             quantile_cont(l_extendedprice, 0.2) AS c2,
             quantile_cont(l_extendedprice, 0.3) AS c3,
             quantile_cont(l_extendedprice, 0.4) AS c4,
             quantile_cont(l_extendedprice, 0.5) AS c5,
             quantile_cont(l_extendedprice, 0.6) AS c6,
             quantile_cont(l_extendedprice, 0.7) AS c7,
             quantile_cont(l_extendedprice, 0.8) AS c8,
             quantile_cont(l_extendedprice, 0.9) AS c9
      FROM lineitem
    )
    SELECT CAST(1 + CAST(l_extendedprice > c1 AS INT) + CAST(l_extendedprice > c2 AS INT) + CAST(l_extendedprice > c3 AS INT) + CAST(l_extendedprice > c4 AS INT) + CAST(l_extendedprice > c5 AS INT) + CAST(l_extendedprice > c6 AS INT) + CAST(l_extendedprice > c7 AS INT) + CAST(l_extendedprice > c8 AS INT) + CAST(l_extendedprice > c9 AS INT) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           MIN(l_extendedprice) AS lo,
           MAX(l_extendedprice) AS hi
    FROM lineitem CROSS JOIN cuts
    GROUP BY 1
    """,
)
def quantile_binning_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (decile) binning WITHOUT a global sort: a global
    ``NTILE(10)`` is a single-partition window — the classic 100 TB
    bottleneck — so instead the 9 exact decile cut points (one aggregate)
    are broadcast back and each row's bucket is ``1 + #cuts below it``, a
    pure map stage. Boundary ties land identically in both engines because
    the cut values are the identical interpolated doubles. Output is the
    per-bucket count and value range (counts differ from n/10 only by
    boundary ties — the exact equal-frequency contract).

    The nine cuts come from ``quantiles.exact_quantiles`` — histogram
    rank localization (two codegen aggs + a tiny targeted fetch) instead
    of the built-in ``percentile`` aggregate's value->count map, whose
    single final merge is O(|distinct|) on one core (measured 14.3 s with
    nine scalar calls, ~4.5 s with the array form, ~1 s localized — and
    the gap widens with data size since the histogram shuffle is bounded
    at 64k rows). Bit-identity with the built-in aggregate is pinned in
    tests, so the oracle is unchanged. The cuts return as driver-side
    literals, making the binning pass a single literal-predicate scan —
    no broadcast join at all."""
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    from ..quantiles import exact_quantiles

    cuts = exact_quantiles(li, "l_extendedprice", [p / 10 for p in range(1, 10)])
    bucket = F.lit(1)
    for c in cuts:
        bucket = bucket + (F.col("l_extendedprice") > F.lit(c)).cast("int")
    return li.groupBy(bucket.cast("bigint").alias("bucket")).agg(
        F.count("*").alias("n"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )


@_q(
    "agg_weighted_median",
    """
    WITH wrows AS (
      SELECT l_returnflag, l_extendedprice AS price,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ), cum AS (
      SELECT l_returnflag, price, w,
             CAST(SUM(w) OVER (PARTITION BY l_returnflag
                               ORDER BY price, w
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cw,
             CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS total
      FROM wrows
    )
    SELECT l_returnflag,
           MIN(price) AS weighted_median,
           MIN(total) AS total_weight
    FROM cum
    WHERE 2 * cw >= total
    GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median per group: the smallest value whose cumulative
    weight reaches half the group's total — computed with a running-sum
    window over the value order, all in BIGINT (quantities are integral),
    so the threshold test ``2*cw >= total`` is exact integer arithmetic
    with no float ties. One partitioned sort-window per group; at 100 TB
    this is the exact form — the sketch form swaps the window for a
    weighted KLL sketch."""
    from pyspark.sql import Window

    wrows = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price", "w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    cum = wrows.select(
        "l_returnflag",
        "price",
        F.sum("w").over(wcum).cast("bigint").alias("cw"),
        F.sum("w").over(wtot).cast("bigint").alias("total"),
    )
    return (
        cum.filter(F.lit(2) * F.col("cw") >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price").alias("weighted_median"),
            F.min("total").alias("total_weight"),
        )
    )


@_q(
    "agg_ols_by_group",
    f"""
    SELECT l_returnflag,
           COUNT(*) AS n,
           (CAST(COUNT(*) AS DOUBLE) * {sql_dsum('l_quantity * l_extendedprice')}
             - {sql_dsum('l_quantity')} * {sql_dsum('l_extendedprice')})
           / (CAST(COUNT(*) AS DOUBLE) * {sql_dsum('l_quantity * l_quantity')}
             - {sql_dsum('l_quantity')} * {sql_dsum('l_quantity')}) AS slope,
           ({sql_dsum('l_extendedprice')}
             - ((CAST(COUNT(*) AS DOUBLE) * {sql_dsum('l_quantity * l_extendedprice')}
                  - {sql_dsum('l_quantity')} * {sql_dsum('l_extendedprice')})
                / (CAST(COUNT(*) AS DOUBLE) * {sql_dsum('l_quantity * l_quantity')}
                  - {sql_dsum('l_quantity')} * {sql_dsum('l_quantity')}))
               * {sql_dsum('l_quantity')})
           / CAST(COUNT(*) AS DOUBLE) AS intercept
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_ols_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form simple linear regression per group (price ~ quantity):
    slope and intercept from the five classical sums — the one-pass,
    map-side-combinable way to fit millions of per-segment trend lines at
    100 TB (no solver, no iteration; regr_slope/regr_intercept have
    engine-specific float accumulation, so the sums here go through the
    exact-DECIMAL contract and the closing arithmetic is the same IEEE
    expression tree in both engines). Products are computed in double
    (one rounding each, identical per row) before the exact decimal sum."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    xy = dsum(F.col("l_quantity") * F.col("l_extendedprice"))
    xx = dsum(F.col("l_quantity") * F.col("l_quantity"))
    sx = dsum("l_quantity")
    sy = dsum("l_extendedprice")
    nd = F.count("*").cast("double")
    slope = (nd * xy - sx * sy) / (nd * xx - sx * sx)
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        slope.alias("slope"),
        ((sy - slope * sx) / nd).alias("intercept"),
    )


@_q(
    "agg_mode_by_group",
    """
    WITH c AS (
      SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ), r AS (
      SELECT o_orderpriority, o_orderstatus, cnt,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY cnt DESC, o_orderstatus) AS rn
      FROM c
    )
    SELECT o_orderpriority, o_orderstatus AS mode_status, cnt AS mode_count
    FROM r WHERE rn = 1
    """,
)
def agg_mode_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value), ties broken lexically so the
    answer is deterministic in both engines — written as count + top-1
    window rather than any engine-specific mode() aggregate. The window
    runs over the REDUCED count table (|groups x domain| rows), never the
    base data, so the only data-sized cost is one map-side-combinable
    count."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_orderstatus")
    c = od.groupBy("o_orderpriority", "o_orderstatus").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("cnt"), F.col("o_orderstatus")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_status"),
            F.col("cnt").alias("mode_count"),
        )
    )


# HLL raw-estimator numerator: alpha_64 * m^2 * 2^55 with
# alpha_64 = 0.7213 / (1 + 1.079/64). One shared float literal so both
# engines perform the identical single multiply-free division.
_HLL_M = 64
_HLL_NUMERATOR = 1.04680248439400600e+20


@_q(
    "approx_hll_portable_dau",
    f"""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    h AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hash60
      FROM ev
    ), b AS (
      SELECT day,
             hash60 % {_HLL_M} AS bucket,
             MAX(CASE WHEN hash60 // {_HLL_M} = 0 THEN 55
                      ELSE 55 - LENGTH(bin(hash60 // {_HLL_M})) END) AS max_rho
      FROM h GROUP BY day, hash60 % {_HLL_M}
    ), reg AS (
      SELECT day,
             CAST(SUM(1::BIGINT << (55 - max_rho)) AS BIGINT) AS present_mass,
             COUNT(*) AS n_buckets_used
      FROM b GROUP BY day
    ), ex AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             COUNT(DISTINCT user_id) AS n_exact
      FROM ev GROUP BY 1
    )
    SELECT r.day,
           e.n_exact,
           CAST(r.n_buckets_used AS BIGINT) AS n_buckets_used,
           {_HLL_NUMERATOR:.17e} /
             CAST(r.present_mass
                  + ({_HLL_M} - r.n_buckets_used) * (1::BIGINT << 55)
                  AS BIGINT) AS hll_estimate
    FROM reg r JOIN ex e USING (day)
    """,
)
def approx_hll_portable_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog, graded value-exact against the oracle: daily
    distinct users estimated from a 64-register HLL built with the
    engine-portable 60-bit md5 hash (``helpers.phash60``), alongside the
    exact count for calibration. Unlike ``approx_distinct_counts`` (Spark's
    native HLL++, engine-specific and rows-only), every step here is
    deterministic in BOTH engines, so the sketch itself is under the
    correctness gate: register = hash % 64, rho = leading-zero rank of the
    remaining 54 bits via ``55 - length(bin(w))`` (bin() drops leading
    zeros in both engines; w = 0 pins rho = 55), harmonic mass
    ``sum(1 << (55 - max_rho))`` held in exact BIGINT (max 64 * 2^55 =
    2^61, in range), absent registers contribute the 2^55 zero-register
    term, and the only float op is the final single division (BIGINT ->
    DOUBLE is one correctly-rounded conversion in both engines — the
    DECIMAL ulp trap from round 7 does not apply). This is the raw HLL
    estimator, deliberately without the small-range linear-counting branch
    (it needs ln(); libm is banned from oracle-paired expressions) — the
    graded output carries exact-vs-estimate side by side, which is the
    audit a pipeline actually runs before trusting sketches. At 100 TB the
    per-day state is 64 registers regardless of cardinality; the group-by
    combines map-side (MAX per register), exactly how a cluster HLL
    rollup shuffles."""
    ev = load_table(spark, sf_dir, "events")
    from .helpers import phash60

    h = ev.select(
        F.to_date(F.col("ts")).alias("day"),
        F.col("user_id"),
        phash60(F.col("user_id").cast("string")).alias("hash60"),
    )
    w = F.expr(f"hash60 div {_HLL_M}")
    rho = F.when(w == 0, F.lit(55)).otherwise(
        F.lit(55) - F.length(F.bin(w))
    )
    b = (
        h.groupBy("day", F.expr(f"hash60 % {_HLL_M}").alias("bucket"))
        .agg(F.max(rho).alias("max_rho"))
    )
    reg = b.groupBy("day").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 55 - max_rho)"))
        .cast("bigint")
        .alias("present_mass"),
        F.count("*").alias("n_buckets_used"),
    )
    ex = h.groupBy("day").agg(F.countDistinct("user_id").alias("n_exact"))
    zero_mass = F.expr(
        f"({_HLL_M} - n_buckets_used) * shiftleft(cast(1 as bigint), 55)"
    )
    return (
        reg.join(ex, "day")
        .select(
            "day",
            "n_exact",
            F.col("n_buckets_used").cast("bigint").alias("n_buckets_used"),
            (
                F.lit(_HLL_NUMERATOR)
                / (F.col("present_mass") + zero_mass).cast("bigint")
            ).alias("hll_estimate"),
        )
    )


_CMS_W = 512  # sketch width (buckets per hash row)
_CMS_D = 4  # sketch depth (independent hash rows)


@_q(
    "approx_countmin_portable",
    f"""
    WITH toks AS (
      SELECT UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\\s+')) AS token
      FROM documents WHERE TRIM(text) <> ''
    ), exact AS (
      SELECT token, COUNT(*) AS exact_count FROM toks GROUP BY token
    ), rows_ AS (
      SELECT UNNEST(generate_series(0, {_CMS_D - 1})) AS hrow
    ), sketch AS (
      SELECT hrow,
             ('0x' || substr(md5('cm' || hrow || ':' || token), 1, 15))::BIGINT
               % {_CMS_W} AS bucket,
             CAST(SUM(exact_count) AS BIGINT) AS bucket_count
      FROM exact CROSS JOIN rows_
      GROUP BY 1, 2
    ), top AS (
      SELECT token, exact_count FROM exact
      ORDER BY exact_count DESC, token LIMIT 20
    ), probe AS (
      SELECT t.token, t.exact_count, s.bucket_count
      FROM top t CROSS JOIN rows_ r
      JOIN sketch s
        ON s.hrow = r.hrow
       AND s.bucket = ('0x' || substr(md5('cm' || r.hrow || ':' || t.token), 1, 15))::BIGINT % {_CMS_W}
    )
    SELECT token,
           CAST(exact_count AS BIGINT) AS exact_count,
           CAST(MIN(bucket_count) AS BIGINT) AS cms_estimate,
           CAST(MIN(bucket_count) - exact_count AS BIGINT) AS overcount
    FROM probe GROUP BY token, exact_count
    """,
)
def approx_countmin_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Count-Min sketch, graded value-exact: a 4x512 CMS over the
    document token stream (row r hashes token with the engine-portable
    md5/60-bit hash salted by ``cm{{r}}:``), probed for the exact top-20
    tokens; the output carries exact count, CMS estimate (min over the 4
    rows), and the guaranteed-non-negative overcount. Deterministic end to
    end in both engines, so unlike ``frequent_tokens_approx`` (Spark's
    native Misra-Gries, rows-only) the sketch arithmetic itself is under
    the value-hash gate. Scale shape: the sketch is built from the REDUCED
    token-frequency table (one map-side-combinable count, then |vocab| x 4
    tiny rows hashed into 2048 cells — never 4x the raw token stream), the
    cells table is broadcast-sized by construction (fixed 2048 rows at any
    corpus size), and the probe is a broadcast lookup join. This is
    exactly how a heavy-hitter CMS deploys on a cluster: counts shuffle
    once, the sketch itself never shuffles."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    from ..queries.text import _SPARK_TOKENS
    from .helpers import materialize_reduced

    toks = docs.select(
        F.explode(_SPARK_TOKENS(F.lower(F.col("text")))).alias("token")
    )
    exact = materialize_reduced(
        toks.groupBy("token").agg(F.count("*").alias("exact_count"))
    )
    rows_ = spark.range(_CMS_D).select(F.col("id").alias("hrow"))

    def _bucket(token_col, hrow_col):
        key = F.concat(F.lit("cm"), hrow_col.cast("string"), F.lit(":"), token_col)
        return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast(
            "bigint"
        ) % _CMS_W

    sketch = (
        exact.crossJoin(F.broadcast(rows_))
        .groupBy(
            "hrow", _bucket(F.col("token"), F.col("hrow")).alias("bucket")
        )
        .agg(F.sum("exact_count").cast("bigint").alias("bucket_count"))
    )
    top = (
        exact.orderBy(F.desc("exact_count"), "token")
        .limit(20)
        .crossJoin(F.broadcast(rows_))
        .select(
            "token",
            "exact_count",
            "hrow",
            _bucket(F.col("token"), F.col("hrow")).alias("bucket"),
        )
    )
    return (
        top.join(F.broadcast(sketch), ["hrow", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("bucket_count").alias("cms_estimate"))
        .select(
            "token",
            F.col("exact_count").cast("bigint").alias("exact_count"),
            F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("bigint")
            .alias("overcount"),
        )
    )


_KMV_K = 64


@_q(
    "approx_kmv_distinct",
    f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5('kmv' || CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT AS hash60
      FROM events
    ), ranked AS (
      SELECT event_type, hash60,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY hash60) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_hashes
      FROM h
    ), sk AS (
      SELECT event_type, MAX(n_hashes) AS n_hashes,
             MAX(CASE WHEN rn = {_KMV_K} THEN hash60 END) AS kth_min
      FROM ranked GROUP BY event_type
    ), ex AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT s.event_type,
           CAST(e.n_exact AS BIGINT) AS n_exact,
           CAST(s.n_hashes AS BIGINT) AS n_hashes,
           CAST(COALESCE(s.kth_min, -1) AS BIGINT) AS kth_min,
           CASE WHEN s.n_hashes < {_KMV_K}
                THEN CAST(s.n_hashes AS DOUBLE)
                ELSE ({_KMV_K - 1}.0 * 1152921504606846976.0) / s.kth_min
           END AS kmv_estimate
    FROM sk s JOIN ex e USING (event_type)
    """,
)
def approx_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k theta) distinct sketch per event
    type, graded against the exact count it estimates: distinct users
    hash to 60-bit values (the family's portable md5-prefix hash), the
    k-th smallest defines theta, and the estimate is (k-1)/theta =
    (k-1)*2^60/kth_min — with the standard exact fallback when fewer
    than k values exist. Unlike HLL, a KMV sketch supports set
    INTERSECTION estimates, which is why training-data pipelines carry
    it next to HLL for overlap-between-sources questions. The sketch
    state is k BIGINTs per group (mergeable bottom-k, map-side
    combinable); 2^60 and k-1 are dyadic-exact double literals, so the
    one float division is portable."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("hash60"),
    ).distinct()
    wr = Window.partitionBy("event_type").orderBy("hash60")
    wn = Window.partitionBy("event_type")
    ranked = h.select(
        "event_type",
        "hash60",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n_hashes"),
    )
    sk = ranked.groupBy("event_type").agg(
        F.max("n_hashes").alias("n_hashes"),
        F.max(
            F.when(F.col("rn") == _KMV_K, F.col("hash60"))
        ).alias("kth_min"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    est = F.when(
        F.col("n_hashes") < _KMV_K, F.col("n_hashes").cast("double")
    ).otherwise(
        (F.lit(float(_KMV_K - 1)) * F.lit(1152921504606846976.0))
        / F.col("kth_min")
    )
    return sk.join(ex, "event_type").select(
        "event_type",
        "n_exact",
        F.col("n_hashes").cast("bigint").alias("n_hashes"),
        F.coalesce(F.col("kth_min"), F.lit(-1))
        .cast("bigint")
        .alias("kth_min"),
        est.alias("kmv_estimate"),
    )


_THETA_MAX = 1152921504606846976  # 2^60: exact-mode theta (sketch not full)


@_q(
    "approx_kmv_intersection",
    f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5('kmv' || CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT AS hash60
      FROM events
    ), ranked AS (
      SELECT event_type, hash60,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY hash60) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_hashes
      FROM h
    ), sk AS MATERIALIZED (
      SELECT event_type, hash60 FROM ranked WHERE rn <= {_KMV_K}
    ), theta AS MATERIALIZED (
      SELECT event_type,
             CASE WHEN MAX(n_hashes) >= {_KMV_K}
                  THEN MAX(CASE WHEN rn = {_KMV_K} THEN hash60 END)
                  ELSE {_THETA_MAX} END AS theta
      FROM ranked GROUP BY event_type
    ), ut AS MATERIALIZED (
      SELECT DISTINCT event_type, user_id FROM events
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             ta.theta AS theta_a, tb.theta AS theta_b,
             CAST(COUNT(CASE WHEN a.hash60 < LEAST(ta.theta, tb.theta)
                             THEN 1 END) AS BIGINT) AS n_common
      FROM sk a
      JOIN sk b ON a.hash60 = b.hash60 AND a.event_type < b.event_type
      JOIN theta ta ON ta.event_type = a.event_type
      JOIN theta tb ON tb.event_type = b.event_type
      GROUP BY 1, 2, 3, 4
    ), exact AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM ut x JOIN ut y
        ON x.user_id = y.user_id AND x.event_type < y.event_type
      GROUP BY 1, 2
    )
    SELECT e.type_a, e.type_b, e.n_exact,
           COALESCE(p.n_common, 0) AS n_common,
           CAST(LEAST(p.theta_a, p.theta_b) AS BIGINT) AS theta,
           COALESCE(p.n_common, 0) * 1152921504606846976.0
             / LEAST(p.theta_a, p.theta_b) AS kmv_estimate
    FROM exact e LEFT JOIN pairs p
      ON p.type_a = e.type_a AND p.type_b = e.type_b
    ORDER BY e.type_a, e.type_b
    """,
)
def approx_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set INTERSECTION from the KMV bottom-k sketches —
    the operation HLL cannot do and the reason pipelines carry KMV: the
    audience-overlap estimate between every pair of event types from
    two 64-hash sketches instead of a user-level join. theta =
    min(theta_A, theta_B); common sketch hashes below theta scale by
    2^60/theta (n*2^60 stays dyadic-exact in double for n <= k, so the
    single division is portable). Graded against the exact pairwise
    overlap so the driver verdict covers both the estimator mechanics
    and its input sketches. At 100 TB the sketches are k BIGINTs per
    group (mergeable, map-side combinable) and the pair stage touches
    only |types|^2 * k rows — the exact twin here exists purely as the
    oracle's ground truth."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("hash60"),
    ).distinct()
    wr = Window.partitionBy("event_type").orderBy("hash60")
    wn = Window.partitionBy("event_type")
    ranked = h.select(
        "event_type",
        "hash60",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n_hashes"),
    ).localCheckpoint()
    sk = ranked.filter(F.col("rn") <= _KMV_K).select("event_type", "hash60")
    theta = ranked.groupBy("event_type").agg(
        F.when(
            F.max("n_hashes") >= _KMV_K,
            F.max(F.when(F.col("rn") == _KMV_K, F.col("hash60"))),
        )
        .otherwise(F.lit(_THETA_MAX))
        .alias("theta")
    )
    a = sk.select(F.col("event_type").alias("type_a"), "hash60")
    b = sk.select(F.col("event_type").alias("type_b"), F.col("hash60").alias("hash60_b"))
    ta = theta.select(F.col("event_type").alias("type_a"), F.col("theta").alias("theta_a"))
    tb = theta.select(F.col("event_type").alias("type_b"), F.col("theta").alias("theta_b"))
    pairs = (
        a.join(b, (F.col("hash60") == F.col("hash60_b")) & (F.col("type_a") < F.col("type_b")))
        .join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .groupBy("type_a", "type_b", "theta_a", "theta_b")
        .agg(
            F.count(
                F.when(
                    F.col("hash60") < F.least("theta_a", "theta_b"), 1
                )
            )
            .cast("bigint")
            .alias("n_common")
        )
    )
    ut = ev.select("event_type", "user_id").distinct()
    x = ut.select(F.col("event_type").alias("type_a"), "user_id")
    y = ut.select(F.col("event_type").alias("type_b"), F.col("user_id").alias("user_id_b"))
    exact = (
        x.join(
            y,
            (F.col("user_id") == F.col("user_id_b"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_exact"))
    )
    return (
        exact.join(pairs, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "n_exact",
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
            F.least("theta_a", "theta_b").cast("bigint").alias("theta"),
            (
                F.coalesce(F.col("n_common"), F.lit(0))
                * F.lit(1152921504606846976.0)
                / F.least("theta_a", "theta_b")
            ).alias("kmv_estimate"),
        )
        .orderBy("type_a", "type_b")
    )


_AMS_R = 8  # independent +/-1 estimators in the F2 sketch panel


def _ams_oracle() -> str:
    cols = []
    for r in range(_AMS_R):
        sign = (
            f"((('0x' || substr(md5('ams{r}:' || token), 1, 15))::BIGINT"
            f" % 2) * 2 - 1)"
        )
        cols.append(
            f"CAST(SUM({sign} * c) AS BIGINT) AS z_{r}"
        )
    z_cols = ",\n             ".join(cols)
    sq = " + ".join(
        f"CAST(z_{r} AS DOUBLE) * CAST(z_{r} AS DOUBLE)" for r in range(_AMS_R)
    )
    return f"""
    WITH tok AS (
      SELECT UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\\s+'))
        AS token
      FROM documents WHERE TRIM(text) <> ''
    ), cnt AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY token
    ), s AS (
      SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact,
             {z_cols}
      FROM cnt
    )
    SELECT f2_exact,
           {", ".join(f"z_{r}" for r in range(_AMS_R))},
           ({sq}) / {float(_AMS_R)} AS f2_estimate
    FROM s
    """


@_q("approx_ams_f2_sketch", _ams_oracle())
def approx_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) second-frequency-moment sketch over the
    corpus token distribution — the rare sketch whose machinery is
    oracle-checkable END TO END: each of the 8 estimators projects the
    count vector onto a +/-1 hash direction (sign from the portable
    60-bit md5 hash, salted 'ams{r}:'), Z_r = sum sign*count is
    BIGINT-exact with no float anywhere (no ordering hazard — the
    round-10 validated property), and the panel reports the exact
    F2 = sum c^2 beside the estimator mean of Z_r^2 for calibration.
    One token count pass + one wide aggregate; the sketch state is 8
    integers regardless of vocabulary size, which is the whole point at
    100 TB (F2 without the count table's memory)."""
    from .helpers import phash60

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    tokens = docs.select(
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("token")
    )
    cnt = tokens.groupBy("token").agg(
        F.count("*").cast("bigint").alias("c")
    )
    aggs = [F.sum(F.col("c") * F.col("c")).cast("bigint").alias("f2_exact")]
    for r in range(_AMS_R):
        sign = (
            phash60(F.concat(F.lit(f"ams{r}:"), F.col("token"))) % 2
        ) * 2 - 1
        aggs.append(
            F.sum(sign * F.col("c")).cast("bigint").alias(f"z_{r}")
        )
    s = cnt.agg(*aggs)
    sq = None
    for r in range(_AMS_R):
        term = F.col(f"z_{r}").cast("double") * F.col(f"z_{r}").cast(
            "double"
        )
        sq = term if sq is None else sq + term
    return s.select(
        "f2_exact",
        *[f"z_{r}" for r in range(_AMS_R)],
        (sq / float(_AMS_R)).alias("f2_estimate"),
    )


RESERVOIR_K = 1000  # deterministic hash-order "reservoir" size


@_q(
    "approx_reservoir_quantile_twin",
    f"""
    WITH v AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             ('0x' || substr(md5('res:' || CAST(o_orderkey AS VARCHAR)),
              1, 15))::BIGINT AS h
      FROM orders
    ), res AS (
      SELECT cents FROM (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY h, o_orderkey) AS rn
        FROM v
      ) WHERE rn <= {RESERVOIR_K}
    ), fper AS (
      SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY cents
    ), fcum AS (
      SELECT cents, SUM(c) OVER (ORDER BY cents
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM fper
    ), ftot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM fper),
    sper AS (
      SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM res GROUP BY cents
    ), scum AS (
      SELECT cents, SUM(c) OVER (ORDER BY cents
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM sper
    ), stot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM sper),
    spine AS (
      SELECT CAST(x AS BIGINT) AS decile FROM generate_series(1, 9) t(x)
    ), fcut AS (
      SELECT s.decile, CAST(MIN(c2.cents) AS BIGINT) AS exact_cents
      FROM spine s CROSS JOIN ftot t
      JOIN fcum c2 ON c2.cum >= (s.decile * t.n + 9) // 10
      GROUP BY s.decile
    ), scut AS (
      SELECT s.decile, CAST(MIN(c2.cents) AS BIGINT) AS est_cents
      FROM spine s CROSS JOIN stot t
      JOIN scum c2 ON c2.cum >= (s.decile * t.n + 9) // 10
      GROUP BY s.decile
    )
    SELECT f.decile, f.exact_cents, s.est_cents,
           CAST(ABS(s.est_cents - f.exact_cents) AS BIGINT)
             AS abs_err_cents,
           CAST(ABS(s.est_cents - f.exact_cents) AS DOUBLE)
             / CAST(f.exact_cents AS DOUBLE) AS rel_err
    FROM fcut f JOIN scut s ON s.decile = f.decile
    """,
)
def approx_reservoir_quantile_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reservoir-sampled quantile estimates GRADED against the exact
    panel — the companion that turns the rows-only reservoir pin into
    an oracle-checked error table: a deterministic hash-order
    'reservoir' (the {RESERVOIR_K} lowest md5-ranked orders — exactly
    what a streaming reservoir converges to under a random permutation,
    made engine-reproducible) estimates the nine deciles, and each
    estimate sits beside the exact type-1 cut with absolute and
    relative error. Both panels use the pinned interpolation-free
    quantile machinery (distinct-value cum table + ceil-rank cut); the
    sample side is orderBy+limit — TakeOrderedAndProject per-partition
    heaps, the plan shape that survives 100 TB (ADVICE r11 #2 replaced
    the earlier full-table row_number window, which was one task)."""
    from pyspark.sql import Window

    from .helpers import phash60

    v = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
        phash60(
            F.concat(F.lit("res:"), F.col("o_orderkey").cast("string"))
        ).alias("h"),
    )
    # ADVICE r11 #2: the K lowest hash-ranked rows via orderBy+limit,
    # which Catalyst compiles to TakeOrderedAndProject — per-partition
    # top-K heaps merged at the driver, never a single-task global sort
    # (a row_number window over the full table collapsed to one task).
    res = (
        v.orderBy("h", "o_orderkey").limit(RESERVOIR_K).select("cents")
    )

    def decile_panel(side: DataFrame, out_col: str) -> DataFrame:
        per = side.groupBy("cents").agg(
            F.count("*").cast("bigint").alias("c")
        )
        w = Window.orderBy("cents").rowsBetween(
            Window.unboundedPreceding, 0
        )
        cum = per.select("cents", F.sum("c").over(w).alias("cum"))
        tot = per.agg(F.sum("c").cast("bigint").alias("n"))
        spine = spark.range(1, 10).select(F.col("id").alias("decile"))
        thresholds = spine.crossJoin(F.broadcast(tot))
        return (
            cum.crossJoin(F.broadcast(thresholds))
            .filter(F.col("cum") >= F.expr("(decile * n + 9) div 10"))
            .groupBy("decile")
            .agg(F.min("cents").cast("bigint").alias(out_col))
        )

    fcut = decile_panel(v.select("cents"), "exact_cents")
    scut = decile_panel(res, "est_cents")
    err = F.abs(F.col("est_cents") - F.col("exact_cents"))
    return fcut.join(scut, "decile").select(
        "decile",
        "exact_cents",
        "est_cents",
        err.cast("bigint").alias("abs_err_cents"),
        (
            err.cast("double") / F.col("exact_cents").cast("double")
        ).alias("rel_err"),
    )

