"""Relational core: scans, filters, joins, aggregations (SURVEY.md §2a
A1-A6 scaled up + §2b joins/aggs/rollup/cube over the star schema).

The reference's entire query surface is 3 aggregate queries + 7 validation
counts sent to SQLite (/root/reference/src/core/db_manager.py:262-277,
326-346); rows agg_global / agg_status_counts / validation_counts below are
their direct star-schema analogs. TPC-H-shaped joins come from the driver
mandate (§2b) — every dim-side join is broadcast-able and Catalyst/AQE picks
broadcast-hash automatically under the 64MB threshold set in session.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from .helpers import (
    DEC,
    davg,
    dsum,
    materialize_reduced,
    registry,
    sql_davg,
    sql_dsum,
)
from .windows import daily_cents

QUERIES, ORACLES, _q = registry()


# --- A1/A2/A3: the reference's stats queries, on lineitem ------------------


@_q(
    "agg_global_count",
    "SELECT COUNT(*) AS n_rows FROM lineitem",
)
def agg_global_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: SELECT COUNT(*) (/root/reference/src/core/db_manager.py:262)."""
    return load_table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


@_q(
    "agg_status_counts",
    """
    SELECT o_orderstatus, COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: GROUP BY status hash agg (/root/reference/src/core/db_manager.py:266)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
    )


@_q(
    "agg_amount_stats",
    f"""
    SELECT MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
           {sql_davg('o_totalprice')} AS avg_price,
           {sql_dsum('o_totalprice')} AS sum_price
    FROM orders
    """,
)
def agg_amount_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A4: min/max/avg/sum in one scan
    (/root/reference/src/core/db_manager.py:270-278)."""
    return load_table(spark, sf_dir, "orders").agg(
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        davg("o_totalprice").alias("avg_price"),
        dsum("o_totalprice").alias("sum_price"),
    )


@_q(
    "validation_counts",
    """
    SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_custkey,
           CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS negative_price,
           CAST(SUM(CASE WHEN LOWER(o_orderstatus) = 'f' THEN 1 ELSE 0 END) AS BIGINT)
             AS status_f
    FROM orders
    """,
)
def validation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: all integrity checks in ONE pass via sum(when(...)) — the
    reference issues 7 separate queries (/root/reference/src/core/db_manager.py:326-346)."""
    df = load_table(spark, sf_dir, "orders")
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))
    return df.agg(
        one(F.col("o_custkey").isNull()).alias("null_custkey"),
        one(F.col("o_totalprice") < 0).alias("negative_price"),
        one(F.lower(F.col("o_orderstatus")) == "f").alias("status_f"),
    )


# --- TPC-H-shaped aggregation / join queries (§2b) --------------------------


@_q(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan -> filter -> hash agg. Partial aggregation
    (map-side combine) makes this shuffle only |groups| rows per partition —
    the canonical 100 TB-safe aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact join -> agg -> top-k.
    customer grows with SF, so no broadcast hint — AQE picks broadcast-hash
    at runtime while the filtered side fits and falls back to SMJ at scale;
    the top-10 is a TakeOrderedAndProject, never a full sort."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@_q(
    "q5_local_supplier_volume",
    f"""
    SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join. Fixed-size dims (region=5 rows,
    nation=25) carry explicit broadcast hints; customer/supplier grow with
    SF, so their build side is left to AQE's runtime size check — broadcast
    while they fit, graceful SMJ beyond, never a hint-forced OOM."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


@_q(
    "q6_forecast_revenue",
    f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+agg — every predicate pushes to the
    parquet scan (PushedFilters), zero shuffle beyond the final reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


@_q(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@_q(
    "join_left_anti_semi",
    """
    SELECT
      (SELECT COUNT(*) FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        AS customers_with_orders,
      (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        AS customers_without_orders
    """,
)
def join_left_anti_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti join coverage (§2b): customers with vs without orders.

    One lazy plan, one job: left join against the distinct order custkeys,
    then a single conditional aggregate — equivalent to a semi count + an
    anti count but without two eager driver-side actions.
    """
    cust = load_table(spark, sf_dir, "customer")
    order_keys = (
        load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    )
    joined = cust.join(order_keys, cust.c_custkey == order_keys.o_custkey, "left")
    has = F.col("o_custkey").isNotNull()
    return joined.agg(
        F.sum(F.when(has, 1).otherwise(0)).alias("customers_with_orders"),
        F.sum(F.when(has, 0).otherwise(1)).alias("customers_without_orders"),
    )


@_q(
    "join_outer_null_handling",
    f"""
    SELECT COALESCE(o_orderstatus, 'NO_ORDER') AS status_bucket,
           COUNT(*) AS n_customers,
           {sql_dsum('COALESCE(o_totalprice, 0)')} AS total_price
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY COALESCE(o_orderstatus, 'NO_ORDER')
    """,
)
def join_outer_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null-side aggregation."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .withColumn(
            "status_bucket", F.coalesce(F.col("o_orderstatus"), F.lit("NO_ORDER"))
        )
        .groupBy("status_bucket")
        .agg(
            F.count("*").alias("n_customers"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))).alias("total_price"),
        )
    )


@_q(
    "agg_having",
    f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("spend"))
        .filter(F.col("n_orders") >= 15)
    )


@_q(
    "rollup_order_priority",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (§2b grouping sets family)."""
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_price"))
    )


@_q(
    "cube_returnflag_linestatus",
    f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items, {sql_dsum('l_quantity')} AS total_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_returnflag_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dims."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_items"), dsum("l_quantity").alias("total_qty"))
    )


@_q(
    "count_distinct_exact",
    """
    SELECT COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
)
def count_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct counts (expand + two-phase agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@_q(
    "q4_order_priority_exists",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS -> left-semi join with a non-equi
    residual. The semi join shuffles only the join keys + the compared
    columns and short-circuits on first match — never materializes the
    multiplicity of lineitem."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    matched = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


@_q(
    "q14_promo_revenue_ratio",
    f"""
    SELECT 100.0 * {sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
             / {sql_dsum('l_extendedprice * (1 - l_discount)')} AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-03-01 00:00:00'
    """,
)
def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio over a fact-dim join.
    part grows with SF — no hint; AQE broadcasts it while it fits the
    threshold and shuffles both sides (SMJ) once it doesn't."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-03-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                100.0
                * dsum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / dsum(rev)
            ).alias("promo_pct")
        )
    )


@_q(
    "q18_large_volume_customers",
    f"""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice,
           {sql_dsum('l_quantity')} AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(30,4))) > 150
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over a grouped HAVING -> left-semi
    join against the pre-aggregated keys (the aggregate runs once; the
    fact joins only the qualifying keys)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("qty"))
        .filter(F.col("qty") > 150)
        .select("l_orderkey")
    )
    return (
        orders.join(big_orders, orders.o_orderkey == big_orders.l_orderkey, "left_semi")
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(dsum("l_quantity").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@_q(
    "q19_disjunctive_predicates",
    f"""
    SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 35)
       OR (p_brand = 'Brand#19' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 50)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-conjunctions across both join sides.
    Catalyst extracts the common join key and pushes the per-side
    conjuncts below the join where possible."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 15)
         & (q >= 1) & (q <= 20))
        | ((F.col("p_brand") == "Brand#22") & F.col("p_size").between(10, 30)
           & (q >= 10) & (q <= 35))
        | ((F.col("p_brand") == "Brand#19") & F.col("p_size").between(20, 50)
           & (q >= 20) & (q <= 50))
    )
    return j.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


@_q(
    "subquery_scalar_above_avg",
    f"""
    SELECT COUNT(*) AS n_above,
           {sql_dsum('o_totalprice')} AS total_above
    FROM orders
    WHERE o_totalprice > (SELECT {sql_davg('o_totalprice')} FROM orders)
    """,
)
def subquery_scalar_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery shape: one aggregate produces a single value that
    filters the same table (two passes; the scalar broadcasts)."""
    orders = load_table(spark, sf_dir, "orders")
    avg_row = orders.agg(davg("o_totalprice").alias("avg_price"))
    return (
        orders.crossJoin(F.broadcast(avg_row))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .agg(
            F.count("*").alias("n_above"),
            dsum("o_totalprice").alias("total_above"),
        )
    )


@_q(
    "q7_nation_pair_volume",
    f"""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           EXTRACT(year FROM l_shipdate) AS ship_year,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE c_nationkey <> s_nationkey
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY cn.n_name, sn.n_name, EXTRACT(year FROM l_shipdate)
    """,
)
def q7_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade volume by year — the same dim
    table (nation) joined twice under different roles, a non-equi filter
    across the two sides, and a three-key aggregate. Both nation copies
    broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    cn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey != supp.s_nationkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(sn), supp.s_nationkey == F.col("sn_key"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


@_q(
    "q2_min_cost_per_type",
    """
    SELECT p.p_type, p.p_partkey, p.p_name, p.p_retailprice
    FROM part p
    WHERE p.p_retailprice = (
      SELECT MIN(p2.p_retailprice) FROM part p2 WHERE p2.p_type = p.p_type
    )
    ORDER BY p.p_type, p.p_partkey
    """,
)
def q2_min_cost_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery per group — rewritten as a
    window min + filter, the scalable form (one shuffle on the group key;
    the naive correlated rewrite would re-aggregate per outer row)."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_type")
    return (
        part.withColumn("min_price", F.min("p_retailprice").over(w))
        .filter(F.col("p_retailprice") == F.col("min_price"))
        .select("p_type", "p_partkey", "p_name", "p_retailprice")
        .orderBy("p_type", "p_partkey")
    )


@_q(
    "grouping_sets_status_priority",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price,
           GROUPING_ID(o_orderstatus, o_orderpriority) AS gid
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def grouping_sets_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the general form behind rollup/cube: exactly the
    requested aggregation levels, one pass, partial-agg per level (Spark
    expands then map-side combines; no per-level rescan)."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
                 AS total_price,
               grouping_id(o_orderstatus, o_orderpriority) AS gid
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@_q(
    "agg_median_by_status",
    """
    SELECT o_orderstatus,
           median(o_totalprice) AS median_price,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_median_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median per group (Spark 3.4+ ``median`` = interpolated
    percentile 0.5, same rule as DuckDB's ``median`` on DOUBLE). Exact
    medians need the group's values co-located — fine for low-cardinality
    group keys; ``approx_quantiles`` is the sketch path for high-cardinality
    keys at 100 TB."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.median("o_totalprice").alias("median_price"),
            F.count("*").alias("n_orders"),
        )
    )


# --- TPC-H Q13/Q17/Q20/Q22 adaptations (columns limited to the synthetic
# schema: no partsupp/commitdate/shipmode/phone, so each keeps the classic
# plan shape against the columns that exist) ------------------------------


@_q(
    "q13_customer_order_distribution",
    """
    WITH per_cust AS (
      SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT n_orders, COUNT(*) AS n_customers
    FROM per_cust GROUP BY n_orders
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join with a predicate on the NULL-side
    (filter the fact *before* the join — equivalent to the ON-clause form
    and lets the scan prune), COUNT(col) over the outer join (zero for
    orderless customers), then a histogram of the counts. Two shuffles:
    customer<->orders on custkey, then the tiny count-of-counts agg."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@_q(
    "q17_small_quantity_revenue",
    """
    WITH stats AS (
      SELECT l_partkey,
             SUM(CAST(l_quantity AS DECIMAL(12,4))) AS sum_qty,
             COUNT(l_quantity) AS cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#11'
    JOIN stats s ON s.l_partkey = l.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(12,4)) * 5 * s.cnt < s.sum_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated `l_quantity < 0.2 * AVG(...)` subquery,
    decorrelated into a per-part aggregate re-joined to the fact (the plan
    Catalyst produces for the subquery form, written explicitly). The
    threshold is evaluated multiplicatively in exact DECIMAL —
    ``qty * 5 * cnt < sum_qty`` is ``qty < 0.2 * avg`` without the
    engine-specific float division, so the row set is bit-identical in both
    engines. Fact-side shuffle on l_partkey feeds both the agg and the
    join (AQE reuses the exchange)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#11"
    ).select("p_partkey")
    stats = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,4)")).alias("sum_qty"),
        F.count("l_quantity").alias("cnt"),
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(stats, "l_partkey")
        .filter(
            F.col("l_quantity").cast("decimal(12,4)") * 5 * F.col("cnt")
            < F.col("sum_qty")
        )
        .agg((dsum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


@_q(
    "q20_dominant_supplier_share",
    """
    WITH sp AS (
      SELECT l_suppkey, l_partkey,
             SUM(CAST(l_quantity AS DECIMAL(12,4))) AS qty
      FROM lineitem GROUP BY l_suppkey, l_partkey
    ), t AS (
      SELECT l_suppkey, qty,
             SUM(qty) OVER (PARTITION BY l_partkey) AS part_total,
             COUNT(*) OVER (PARTITION BY l_partkey) AS n_supp
      FROM sp
    )
    SELECT l_suppkey, COUNT(*) AS n_dominant_parts
    FROM t WHERE qty * n_supp > 2 * part_total
    GROUP BY l_suppkey
    """,
)
def q20_dominant_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 spirit on available columns: suppliers shipping more than
    2x their fair share (qty * n_suppliers > 2 * part_total) of a part's
    volume, counted per supplier. Shape:
    two-level aggregate, then a window total over the first-level groups —
    the (suppkey, partkey) pre-agg shrinks the window input to one row per
    pair, and the window partition key (l_partkey) is a prefix of the agg
    key, so the window reuses the same hash-partitioning (one shuffle
    total). Exact DECIMAL share comparison, no division."""
    li = load_table(spark, sf_dir, "lineitem")

    sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,4)")).alias("qty")
    )
    w = Window.partitionBy("l_partkey")
    t = sp.withColumn("part_total", F.sum("qty").over(w)).withColumn(
        "n_supp", F.count("*").over(w)
    )
    return (
        t.filter(F.col("qty") * F.col("n_supp") > 2 * F.col("part_total"))
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_dominant_parts"))
    )


@_q(
    "q22_idle_rich_customers",
    """
    WITH pos AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(12,4))) AS sum_bal,
             COUNT(c_acctbal) AS cnt
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey, COUNT(*) AS n_custs,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS total_bal
    FROM customer, pos
    WHERE CAST(c_acctbal AS DECIMAL(12,4)) * cnt > sum_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= '2001-01-01')
    GROUP BY c_nationkey
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery threshold (above-average positive
    balance, exact multiplicative DECIMAL form — no float division) + anti
    join against recent orders (no order since 2001-01-01), aggregated per
    nation. The one-row aggregate is broadcast (the standard
    scalar-subquery plan); the anti join is the only customer-side shuffle
    and AQE turns it into broadcast-anti while the filtered orders'
    distinct custkeys fit."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp")
    )
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(12,4)")).alias("sum_bal"),
        F.count("c_acctbal").alias("cnt"),
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(F.col("c_acctbal").cast("decimal(12,4)") * F.col("cnt") > F.col("sum_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_custs"),
            dsum("c_acctbal").alias("total_bal"),
        )
    )


# --- Deterministic distributed statistics --------------------------------
#
# Built-in stddev/corr aggregate in DOUBLE and are partition-order
# dependent (Welford merge order differs between engines), so they can
# never hash-match an oracle. These queries instead compute the classical
# moment sums EXACTLY (decimal casts of 2dp values -> decimal sums), then
# apply one fixed scalar expression tree in DOUBLE.
#
# Two determinism rules make this bit-identical across engines:
# 1. the moment sums are exact decimals (dsum reasoning, helpers.py);
# 2. every decimal that crosses to DOUBLE stays under 2^53 in scaled
#    integer form, so the conversion is exact in any engine. (Above that,
#    engines legitimately differ: Java converts via correctly-rounded
#    BigDecimal.doubleValue, DuckDB divides an int128-derived double by
#    10^scale — two roundings — and the low bit can differ; observed on
#    sum(price^2) at sf0.001.) Hence the moments here use l_quantity
#    (<= 50, 2dp) and l_discount (<= 0.1, 2dp): sum(q^2) <= 2500n stays
#    exactly convertible past 3e9 rows per group, and the subsequent
#    double arithmetic is identical single-rounded IEEE ops everywhere.


@_q(
    "agg_variance_exact",
    """
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))
                      * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s2
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           s1 / n AS mean_qty,
           (n * s2 - s1 * s1) / (n * (n - 1.0)) AS var_qty,
           SQRT((n * s2 - s1 * s1) / (n * (n - 1.0))) AS stddev_qty
    FROM m
    """,
)
def agg_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance / stddev per group from exact decimal moment sums —
    one pass, map-side combinable, reproducible under any partitioning."""
    x = F.col("l_quantity").cast("decimal(8,2)")
    m = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(x).cast("double").alias("s1"),
            F.sum(x * x).cast("double").alias("s2"),
        )
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    var = (n * s2 - s1 * s1) / (n * (n - F.lit(1.0)))
    return m.select(
        "l_returnflag",
        "n",
        (s1 / n).alias("mean_qty"),
        var.alias("var_qty"),
        F.sqrt(var).alias("stddev_qty"),
    )


@_q(
    "agg_corr_exact",
    """
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))
                      * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_discount AS DECIMAL(4,2))
                      * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))
                      * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))
             AS corr_qty_disc
    FROM m
    """,
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group from exact decimal moment sums — the
    reproducible form of ``corr()`` (one pass, five map-side-combinable
    sums, one fixed double expression at the end)."""
    qx = F.col("l_quantity").cast("decimal(8,2)")
    dy = F.col("l_discount").cast("decimal(4,2)")
    m = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(qx).cast("double").alias("sx"),
            F.sum(dy).cast("double").alias("sy"),
            F.sum(qx * qx).cast("double").alias("sxx"),
            F.sum(dy * dy).cast("double").alias("syy"),
            F.sum(qx * dy).cast("double").alias("sxy"),
        )
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.select("l_returnflag", "n", corr.alias("corr_qty_disc"))


@_q(
    "unpivot_lineitem_metrics",
    f"""
    SELECT metric, COUNT(*) AS n, {sql_dsum('metric_value')} AS total
    FROM (
      SELECT 'quantity' AS metric, l_quantity AS metric_value FROM lineitem
      UNION ALL
      SELECT 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'discount', l_discount FROM lineitem
      UNION ALL
      SELECT 'tax', l_tax FROM lineitem
    )
    GROUP BY metric
    """,
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (``unpivot``/melt) + per-metric aggregate. The
    unpivot is a row-local expansion (no shuffle; 4x rows into the agg's
    map-side combine) — the long format is what metric stores and feature
    pipelines consume."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    ).withColumn(
        "metric", F.expr("substring(metric, 3)")  # strip the 'l_' prefix
    )
    return long.groupBy("metric").agg(
        F.count("*").alias("n"), dsum("metric_value").alias("total")
    )


@_q(
    "q8_market_share",
    f"""
    SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN n_name = 'NATION_2'
                    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))
                    ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4)))
                    AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue within the
    ASIA supplier market, per year. Both numerator and denominator are
    exact decimal sums inside ONE aggregate (a conditional sum, not two
    scans); the share is a single double division of exact inputs.
    nation/region keep broadcast hints (fixed-size); part/supplier are
    AQE's call."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("n_name") == "NATION_2", rev).otherwise(0))
                .cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
    )


@_q(
    "q15_top_supplier",
    f"""
    WITH srev AS (
      SELECT l_suppkey, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN srev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM srev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue view + scalar-subquery max (the classic
    argmax-without-sort). The one-row MAX broadcasts; equality on exact
    decimal-derived doubles is safe because both engines surface the same
    sum."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    srev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev")
    )
    mx = srev.agg(F.max("total_rev").alias("mx"))
    return (
        supp.join(srev, supp.s_suppkey == srev.l_suppkey)
        .join(F.broadcast(mx), F.col("total_rev") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_rev")
    )


@_q(
    "q21_sole_late_supplier",
    """
    WITH per_os AS (
      SELECT l_orderkey, l_suppkey,
             MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_orderkey, l_suppkey
    ), per_o AS (
      SELECT l_orderkey, l_suppkey, is_late,
             COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
             SUM(is_late) OVER (PARTITION BY l_orderkey) AS n_late
      FROM per_os
    )
    SELECT l_suppkey, COUNT(*) AS n_sole_late_orders
    FROM per_o
    WHERE is_late = 1 AND n_late = 1 AND n_supp >= 2
    GROUP BY l_suppkey
    ORDER BY n_sole_late_orders DESC, l_suppkey
    LIMIT 20
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS other supplier / NOT EXISTS other LATE
    supplier) decorrelated into per-(order,supplier) flags + two window
    counts over the order — no correlated self-joins of lineitem, one
    orderkey shuffle reused by agg and windows. Late = shipped more than
    90 days after the order date (this schema has no commit/receipt
    dates). Internal SUM types never surface: outputs are COUNT (BIGINT
    both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    late = F.when(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
        1,
    ).otherwise(0)
    per_os = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )

    w = Window.partitionBy("l_orderkey")
    per_o = per_os.withColumn("n_supp", F.count("*").over(w)).withColumn(
        "n_late", F.sum("is_late").over(w)
    )
    return (
        per_o.filter(
            (F.col("is_late") == 1) & (F.col("n_late") == 1) & (F.col("n_supp") >= 2)
        )
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_sole_late_orders"))
        .orderBy(F.col("n_sole_late_orders").desc(), "l_suppkey")
        .limit(20)
    )


@_q(
    "q9_product_profit",
    f"""
    SELECT n_name, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           {sql_dsum('l_extendedprice * (1 - l_discount)')}
             - {sql_dsum('0.6 * p_retailprice * l_quantity')} AS profit
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a part-name-filtered product line per
    supplier nation per year. This schema has no partsupp, so supply cost
    is proxied as 60% of retail price (the TPC-H generator's own cost
    band); profit = exact decimal revenue sum minus exact decimal cost
    sum, subtracted once as doubles. The part filter prunes 2000 -> ~300
    rows before the join, so AQE picks broadcast for part; nation is
    hint-broadcast (fixed 25 rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("gear"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cost = F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg((dsum(rev) - dsum(cost)).alias("profit"))
    )


@_q(
    "q11_important_parts",
    f"""
    WITH base AS (
      SELECT l_partkey, l_extendedprice * (1 - l_discount) AS rev
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_1'
    ), pv AS (
      SELECT l_partkey, {sql_dsum('rev')} AS part_value
      FROM base GROUP BY l_partkey
    )
    SELECT l_partkey, part_value
    FROM pv
    WHERE part_value > 0.001 * (SELECT {sql_dsum('rev')} FROM base)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (no partsupp: "stock value" becomes revenue routed
    through one nation's suppliers): per-part value vs a scalar-subquery
    fraction of the total. The filtered base is computed once and feeds
    both the per-part agg and the one-row total (broadcast back); the
    threshold is multiplicative (value > 0.001 * total) so both engines
    compare the same exact-decimal-derived doubles — no division. The
    grand total re-aggregates the 2000-row per-part DECIMAL sums (exact
    by associativity, identical to the oracle's direct sum) instead of
    scanning lineitem a second time."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    base = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("l_partkey", (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    pv_dec = base.groupBy("l_partkey").agg(
        F.sum(F.col("rev").cast(DEC)).alias("dv")
    )
    total = pv_dec.agg(F.sum("dv").cast("double").alias("total_value"))
    pv = pv_dec.select("l_partkey", F.col("dv").cast("double").alias("part_value"))
    return (
        pv.join(F.broadcast(total))
        .filter(F.col("part_value") > F.lit(0.001) * F.col("total_value"))
        .select("l_partkey", "part_value")
    )


@_q(
    "q12_priority_by_delay",
    """
    SELECT CAST(FLOOR(date_diff('day', CAST(o_orderdate AS DATE),
                                CAST(l_shipdate AS DATE)) / 30) AS BIGINT)
             AS delay_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY delay_bucket
    """,
)
def q12_priority_by_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (no l_shipmode column: the mode dimension becomes a
    30-day ship-delay bucket): conditional priority counts per bucket.
    Day difference is computed on DATE casts in both engines (timestamp
    date_diff counts boundary crossings in DuckDB, so the cast is load-
    bearing); bucket = floor(days/30) — double division is exact at
    integer boundaries here since true quotients near an integer only
    occur AT multiples of 30. Integer SUMs are CAST AS BIGINT in the
    oracle (the round-1/2 HUGEINT lesson)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    bucket = F.floor(
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) / F.lit(30)
    ).cast("bigint")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_lines"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_priority_lines"),
        )
    )


@_q(
    "q16_supplier_variety",
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers ship each surviving
    (brand, type, size) combination, excluding "complaint" suppliers
    (proxied: negative account balance; this schema has no s_comment).
    NOT IN is a left-anti join on the 6-row excluded set (s_suppkey is
    never null, so anti-join and NOT IN agree); the part filter prunes
    before the fact join, and COUNT(DISTINCT) is BIGINT in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(excluded, li.l_suppkey == excluded.s_suppkey, "left_anti")
        .join(part, F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]

_PROFILE_ORACLE = (
    "WITH s AS (\n  SELECT COUNT(*) AS n,\n"
    + ",\n".join(
        f"    COUNT({c}) AS nn_{i}, COUNT(DISTINCT {c}) AS nd_{i}"
        for i, c in enumerate(_PROFILE_COLS)
    )
    + "\n  FROM orders\n)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS column_name, n - nn_{i} AS n_nulls, nd_{i} AS n_distinct FROM s"
        for i, c in enumerate(_PROFILE_COLS)
    )
)


@_q("profile_orders_columns", _PROFILE_ORACLE)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiler (S3's file profiler scaled to table statistics —
    /root/reference/src/file_manager.py:202-226 samples 1000 rows; this is
    the full-table form): per-column null and exact distinct counts in ONE
    scan — a single wide aggregate (Catalyst plans the 6 count-distincts
    as one expand), then a row-local stack() to the long (column, stats)
    shape. At 100 TB you'd swap count_distinct for approx_count_distinct
    (see events_dau_approx) — exact is kept here for the oracle gate."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("_n")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"{c}__nn"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__nd"))
    row = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _n - {c}__nn, {c}__nd" for c in _PROFILE_COLS
    )
    return row.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args})"
            " as (column_name, n_nulls, n_distinct)"
        )
    )


@_q(
    "histogram_extendedprice",
    f"""
    WITH mm AS (
      SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
      FROM lineitem
    )
    SELECT CAST(LEAST(FLOOR((l_extendedprice - mn) * 20 / (mx - mn)), 19)
                AS BIGINT) AS bucket,
           COUNT(*) AS n,
           {sql_dsum('l_extendedprice')} AS total
    FROM lineitem, mm
    GROUP BY bucket
    """,
)
def histogram_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 20-bin histogram — two passes (min/max, then bucketed
    counts), with the 1-row bounds broadcast back. The bucket expression
    is one shared double computation in both engines (identical inputs ->
    identical floor), and the top edge folds into bin 19 via LEAST. This
    is the profiler's distribution companion: numeric feature audit at
    corpus scale without collecting values."""
    li = load_table(spark, sf_dir, "lineitem")
    mm = li.agg(
        F.min("l_extendedprice").alias("mn"), F.max("l_extendedprice").alias("mx")
    )
    bucket = F.least(
        F.floor(
            (F.col("l_extendedprice") - F.col("mn"))
            * F.lit(20.0)
            / (F.col("mx") - F.col("mn"))
        ),
        F.lit(19).cast("bigint"),
    ).cast("bigint")
    return (
        li.join(F.broadcast(mm))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"), dsum("l_extendedprice").alias("total"))
    )


_FK_EDGES = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]

_FK_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{ft}.{fk}' AS fk, COUNT(*) AS n_orphans
    FROM {ft} LEFT JOIN {pt} ON {fk} = {pk} WHERE {pk} IS NULL"""
    for ft, fk, pt, pk in _FK_EDGES
)


@_q("fk_orphan_counts", _FK_ORACLE)
def fk_orphan_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the whole star schema: orphan
    counts for every FK edge (A6's validation counts
    — /root/reference/src/core/db_manager.py:326-346 — extended from
    single-table null checks to cross-table keys). The three lineitem
    edges share ONE scan: three left joins against the parent keys, then
    one aggregate of null-parent flags (one shuffle for the orders edge;
    part/supplier broadcast). The small edges are per-edge anti joins.
    The fixed |edges|-row output makes this the cheap pre-flight gate
    before any pipeline run at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    li_row = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left")
        .join(p, li.l_partkey == p.p_partkey, "left")
        .join(s, li.l_suppkey == s.s_suppkey, "left")
        .agg(
            *[
                F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0)).alias(f"n_{pk}")
                for pk in ("o_orderkey", "p_partkey", "s_suppkey")
            ]
        )
    )
    li_counts = li_row.select(
        F.expr(
            "stack(3, 'lineitem.l_orderkey', n_o_orderkey, "
            "'lineitem.l_partkey', n_p_partkey, "
            "'lineitem.l_suppkey', n_s_suppkey) as (fk, n_orphans)"
        )
    )
    out = li_counts
    for ft, fk, pt, pk in _FK_EDGES:
        if ft == "lineitem":
            continue
        fact = load_table(spark, sf_dir, ft)
        parent = load_table(spark, sf_dir, pt).select(pk)
        n = (
            fact.join(parent, fact[fk] == parent[pk], "left_anti")
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(f"{ft}.{fk}").alias("fk"), "n_orphans")
        )
        out = out.unionAll(n)
    return out


@_q(
    "join_null_safe_eq",
    """
    WITH a AS (
      SELECT NULLIF(o_orderstatus, 'O') AS k, COUNT(*) AS na
      FROM orders GROUP BY 1
    ), b AS (
      SELECT NULLIF(o_orderstatus, 'P') AS k, COUNT(*) AS nb
      FROM orders GROUP BY 1
    )
    SELECT a.k, na, nb FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics dimension the
    plain equi-joins here can't express. Each side NULLIFs a different
    status so the null-null match is actually exercised. Note the planner
    cost: null-safe equality is still hash-joinable (Spark treats <=> as
    an equi-key), so this stays a broadcast/SMJ join, not a nested
    loop."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.groupBy(
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("k")
    ).agg(F.count("*").alias("na"))
    b = orders.groupBy(
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("k")
    ).agg(F.count("*").alias("nb"))
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(a["k"], "na", "nb")


@_q(
    "skew_salted_flag_rollup",
    f"""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem GROUP BY l_returnflag
    """,
)
def skew_salted_flag_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted two-phase aggregation (skew.salted_aggregate) under the
    external oracle: 3 grouping keys carrying 20k rows each is exactly
    the hot-key shape AQE's skew handling doesn't cover (it only splits
    joins). Counts and DECIMAL sums re-merge exactly, so the salted plan
    is value-identical to the plain group-by — proven here against
    DuckDB, not just the repo's own equivalence tests."""
    from ..skew import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "rev",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC),
    )
    out = salted_aggregate(li, ["l_returnflag"], sum_cols=["rev"])
    return out.select(
        "l_returnflag", "n_rows", F.col("sum_rev").cast("double").alias("revenue")
    )


@_q(
    "agg_winsorized_mean",
    f"""
    WITH qs AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.05) AS lo,
             quantile_cont(o_totalprice, 0.95) AS hi
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority, COUNT(*) AS n,
           {sql_davg('LEAST(GREATEST(o_totalprice, lo), hi)')} AS winsorized_avg
    FROM orders o JOIN qs USING (o_orderpriority)
    GROUP BY o.o_orderpriority
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics: 5%/95% winsorized mean per priority — the
    outlier-resistant aggregate a feature pipeline uses where plain AVG
    is poisoned by tails. Exact per-group quantiles (Spark ``percentile``
    and DuckDB ``quantile_cont`` interpolate identically — the
    quantiles_exact parity) broadcast back onto the scan; clipping is
    LEAST/GREATEST on identical doubles and the mean is the exact
    decimal-sum form."""
    orders = load_table(spark, sf_dir, "orders")
    # array-form percentile: one shared per-group value map for both cuts
    qs = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, array(0.05, 0.95))").alias("qs")
    ).select(
        "o_orderpriority",
        F.col("qs")[0].alias("lo"),
        F.col("qs")[1].alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    return (
        orders.join(F.broadcast(qs), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), davg(clipped).alias("winsorized_avg"))
    )


@_q(
    "customer_rfm_segments",
    """
    WITH rfm AS (
      SELECT o_custkey AS custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS frequency,
             {monetary} AS monetary
      FROM orders GROUP BY o_custkey
    ), cuts AS (
      SELECT quantile_cont(frequency, 0.5) AS f_med,
             quantile_cont(monetary, 0.5) AS m_med
      FROM rfm
    )
    SELECT CAST(CASE WHEN frequency > f_med THEN 1 ELSE 0 END AS BIGINT) AS hi_frequency,
           CAST(CASE WHEN monetary > m_med THEN 1 ELSE 0 END AS BIGINT) AS hi_monetary,
           COUNT(*) AS n_customers,
           MIN(last_order) AS earliest_last_order,
           MAX(last_order) AS latest_last_order
    FROM rfm CROSS JOIN cuts
    GROUP BY 1, 2
    """.format(monetary=sql_dsum("o_totalprice")),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer frequency/monetary reduced table,
    median cut points from ``quantiles.exact_quantiles`` (bit-identical
    to the percentile aggregate, so the DuckDB quantile_cont oracle
    holds), customers bucketed into the 2x2 hi/lo grid. The quantile
    pass runs over the REDUCED per-customer table (|customers| rows, not
    |orders|), and the cut points come back as literals — the final
    bucketing is a pure map stage, no broadcast join."""
    from ..quantiles import exact_quantiles

    orders = load_table(spark, sf_dir, "orders")
    rfm = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        dsum("o_totalprice").alias("monetary"),
    )
    # the reduced table is |customers|-bounded and feeds 7 downstream jobs
    # (two quantile localizations + the final bucketing) — checkpoint it
    # so orders is scanned once, not once per job
    rfm = materialize_reduced(rfm)
    f_med = exact_quantiles(rfm, "frequency", [0.5])[0]
    m_med = exact_quantiles(rfm, "monetary", [0.5])[0]
    return rfm.groupBy(
        F.when(F.col("frequency") > f_med, 1).otherwise(0).cast("bigint").alias(
            "hi_frequency"
        ),
        F.when(F.col("monetary") > m_med, 1).otherwise(0).cast("bigint").alias(
            "hi_monetary"
        ),
    ).agg(
        F.count("*").alias("n_customers"),
        F.min("last_order").alias("earliest_last_order"),
        F.max("last_order").alias("latest_last_order"),
    )


@_q(
    "basket_part_pairs",
    """
    WITH baskets AS (
      SELECT l_orderkey, l_partkey FROM lineitem GROUP BY l_orderkey, l_partkey
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (association-rule support counts): top
    part pairs appearing in the same order. The pair join is keyed on
    l_orderkey — co-partitioned, and the blow-up per order is bounded by
    basket size squared (TPC-H baskets are <= 7 lines), the same
    bounded-posting-list shape as the dedup candidates. Dedup to distinct
    (order, part) first so quantity splits don't double-count; top-20 via
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.distinct()
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


@_q(
    "supplier_nation_hhi",
    f"""
    WITH s AS (
      SELECT n.n_name AS nation, ps.s_suppkey AS suppkey,
             {sql_dsum('ps.total')} AS supp_cost
      FROM (
        SELECT s_suppkey, s_nationkey, s_suppkey AS k FROM supplier
      ) sup
      JOIN nation n ON sup.s_nationkey = n.n_nationkey
      JOIN (
        SELECT l_suppkey AS s_suppkey, l_suppkey,
               l_extendedprice AS total
        FROM lineitem
      ) ps ON ps.s_suppkey = sup.s_suppkey
      GROUP BY n.n_name, ps.s_suppkey
    ), tot AS (
      SELECT nation, CAST(SUM(CAST(supp_cost AS DECIMAL(30,4))) AS DOUBLE) AS nation_total FROM s GROUP BY nation
    )
    SELECT s.nation,
           COUNT(*) AS n_suppliers,
           ROUND(CAST(SUM((s.supp_cost / t.nation_total)
                    * (s.supp_cost / t.nation_total)) AS DOUBLE), 9) AS hhi
    FROM s JOIN tot t ON s.nation = t.nation
    GROUP BY s.nation
    """,
)
def supplier_nation_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration audit: Herfindahl-Hirschman index of supplier
    revenue share within each nation (1/n = perfectly even, 1 = monopoly)
    — the concentration analytics shape (same rational share-of-squares
    family as Simpson diversity, here over a join). Per-supplier revenue
    reduces lineitem first (exact decimal sums); the share division and
    squaring run over the |suppliers| reduced table; nation is a
    broadcast dim. Note the oracle's nation totals sum the SAME
    decimal-exact supp_cost doubles through a second exact-decimal pass
    (a plain double sum is partition-order dependent), and the squared
    shares round to 9dp so last-ulp accumulation differences in the
    final double sum can't flip the hash."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_supp = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "s_suppkey")
        .agg(dsum("l_extendedprice").alias("supp_cost"))
    )
    tot = per_supp.groupBy("nation").agg(
        dsum("supp_cost").alias("nation_total")
    )
    share = F.col("supp_cost") / F.col("nation_total")
    return (
        per_supp.join(F.broadcast(tot), "nation")
        .groupBy("nation")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum(share * share).cast("double"), 9).alias("hhi"),
        )
    )


@_q(
    "skew_salted_join_rollup",
    f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {sql_dsum('l.l_extendedprice')} AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def skew_salted_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted join (skew.salted_join) under the external oracle — the
    companion to skew_salted_flag_rollup's salted aggregation, covering
    the second case AQE skew-splitting doesn't: a hash join whose build
    side is too big to broadcast while the probe side's key distribution
    is hot. The fact side takes a uniform salt, the dim side replicates
    n_salts ways, the join runs on (key, salt) — a pure plan rewrite, so
    the post-join priority rollup must be value-identical to the plain
    join (proven against DuckDB here, not just the repo's own
    equivalence test)."""
    from ..skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = salted_join(li, orders, "l_orderkey", "o_orderkey", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        dsum("l_extendedprice").alias("total_price"),
    )


@_q(
    "agg_skew_kurtosis_exact",
    """
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                  AS BIGINT) AS s2,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                  AS BIGINT) AS s4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (CAST(s2 AS DOUBLE) / n)
             - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
           ((CAST(s3 AS DOUBLE) / n)
             - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
             + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
               * (CAST(s1 AS DOUBLE) / n))
           / (((CAST(s2 AS DOUBLE) / n)
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
              * SQRT((CAST(s2 AS DOUBLE) / n)
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
             AS skewness,
           ((CAST(s4 AS DOUBLE) / n)
             - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
             + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
               * (CAST(s2 AS DOUBLE) / n)
             - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
               * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
           / (((CAST(s2 AS DOUBLE) / n)
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
              * ((CAST(s2 AS DOUBLE) / n)
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
             - 3.0 AS excess_kurtosis
    FROM m
    """,
)
def agg_skew_kurtosis_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic skewness and excess kurtosis per return flag —
    completing the exact-moments family (variance/corr r5, OLS r5): the
    built-in skewness()/kurtosis() aggregates accumulate doubles in
    partition order and can't be oracle-graded, so the raw power sums
    S1..S4 are exact BIGINT aggregates over the integer-valued quantity
    column (S4 <= 50^4 * |rows| — DECIMAL territory only past ~1e12
    rows; swap the sum type there) and the central-moment identities run
    as ONE double expression written token-for-token identically in both
    engines. Map-side combinable single pass, 3 output rows."""
    q = F.col("l_quantity").cast("bigint")
    m = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(q).alias("s1"),
            F.sum(q * q).alias("s2"),
            F.sum(q * q * q).alias("s3"),
            F.sum(q * q * q * q).alias("s4"),
        )
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    e2 = F.col("s2").cast("double") / n
    e3 = F.col("s3").cast("double") / n
    e4 = F.col("s4").cast("double") / n
    m2 = e2 - mu * mu
    # m2*sqrt(m2), not pow(m2, 1.5): sqrt is IEEE-correctly-rounded in
    # both engines, pow with a fractional exponent is libm-dependent and
    # diverged by one ulp on the real fixture
    skew = (e3 - F.lit(3.0) * mu * e2 + F.lit(2.0) * mu * mu * mu) / (
        m2 * F.sqrt(m2)
    )
    kurt = (
        e4
        - F.lit(4.0) * mu * e3
        + F.lit(6.0) * mu * mu * e2
        - F.lit(3.0) * mu * mu * mu * mu
    ) / (m2 * m2) - F.lit(3.0)
    return m.select(
        "l_returnflag",
        "n",
        m2.alias("m2"),
        skew.alias("skewness"),
        kurt.alias("excess_kurtosis"),
    )


@_q(
    "agg_gini_concentration",
    """
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ), hist AS (
      SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM rev GROUP BY cents
    ), cum AS (
      SELECT cents, c,
             SUM(c) OVER (ORDER BY cents) AS cum,
             SUM(c) OVER (ORDER BY cents) - c AS prev
      FROM hist
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CAST(cents AS DECIMAL(38,0)) * c) AS BIGINT) AS mass,
             CAST(SUM(CAST(cents AS DECIMAL(38,0))
                      * (prev * c + c * (c + 1) // 2)) AS BIGINT)
               AS rank_mass
      FROM cum
    ), cuts AS (
      SELECT n, mass, rank_mass,
             n - (n + 99) // 100 AS r1, n - (n + 9) // 10 AS r10
      FROM tot
    )
    SELECT n AS n_customers,
           mass AS total_cents,
           2.0 * CAST(rank_mass AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(mass AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini,
           (SELECT CAST(CAST(SUM(CAST(cents AS DECIMAL(38,0))
                            * (cum - GREATEST(prev, (SELECT r1 FROM cuts))))
                   AS BIGINT) AS DOUBLE)
            FROM cum WHERE cum > (SELECT r1 FROM cuts))
             / CAST(mass AS DOUBLE) AS top1pct_share,
           (SELECT CAST(CAST(SUM(CAST(cents AS DECIMAL(38,0))
                            * (cum - GREATEST(prev, (SELECT r10 FROM cuts))))
                   AS BIGINT) AS DOUBLE)
            FROM cum WHERE cum > (SELECT r10 FROM cuts))
             / CAST(mass AS DOUBLE) AS top10pct_share
    FROM cuts
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-revenue concentration audit: exact Gini coefficient plus
    top-1% / top-10% Lorenz shares — the inequality summary behind
    'do a handful of customers (or sources, or users) dominate this
    dataset', the same shape curation passes run on per-source token
    mass before fixing mixture rates. Computed from the VALUE HISTOGRAM,
    not per-unit ranks: revenues quantize to exact integer cents, the
    rank-sum over a tied value collapses to prev*c + c(c+1)/2, and the
    single ordered window runs over |distinct values| rows (bounded by
    the quantization at scale) rather than |customers|. Exact masses
    accumulate in DECIMAL(38,0) but PIVOT THROUGH BIGINT before any
    double math: int64->double conversion is correctly rounded in both
    engines, while a >2^53 decimal->double cast goes through DuckDB's
    hugeint path and can land one ulp away (bit at sf0.1). Valid while
    rank-weighted cents fit BIGINT (~9e18 — n*mass/2; past that,
    quantize to dollars: Gini is scale-invariant, so coarser units only
    merge near-equal customers). Ties need no ordering decision — any
    permutation of equal values has the same rank sum."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    hist = rev.groupBy("cents").agg(F.count("*").cast("bigint").alias("c"))
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "cents",
        "c",
        F.sum("c").over(w).alias("cum"),
        (F.sum("c").over(w) - F.col("c")).alias("prev"),
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")
    tot = cum.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(dec("cents") * F.col("c")).cast("bigint").alias("mass"),
        F.sum(
            dec("cents")
            # integer // 2 (exact: c*(c+1) is even) — a float '/' here
            # would silently turn the whole rank-mass sum into doubles
            * (
                F.col("prev") * F.col("c")
                + F.expr("c * (c + 1) div 2")
            )
        )
        .cast("bigint")
        .alias("rank_mass"),
    )
    cuts = tot.select(
        "n",
        "mass",
        "rank_mass",
        (F.col("n") - F.expr("(n + 99) div 100")).alias("r1"),
        (F.col("n") - F.expr("(n + 9) div 10")).alias("r10"),
    )
    j = cum.crossJoin(F.broadcast(cuts))

    def top_share(rcol):
        return (
            F.sum(
                F.when(
                    F.col("cum") > F.col(rcol),
                    dec("cents")
                    * (F.col("cum") - F.greatest(F.col("prev"), F.col(rcol))),
                )
            )
            .cast("bigint")
            .cast("double")
        )

    n_d = F.col("n").cast("double")
    return j.groupBy("n", "mass", "rank_mass", "r1", "r10").agg(
        top_share("r1").alias("t1"), top_share("r10").alias("t10")
    ).select(
        F.col("n").alias("n_customers"),
        F.col("mass").alias("total_cents"),
        (
            F.lit(2.0) * F.col("rank_mass").cast("double")
            / (n_d * F.col("mass").cast("double"))
            - (n_d + F.lit(1.0)) / n_d
        ).alias("gini"),
        (F.col("t1") / F.col("mass").cast("double")).alias("top1pct_share"),
        (F.col("t10") / F.col("mass").cast("double")).alias("top10pct_share"),
    )


@_q(
    "agg_share_of_parent",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation, cents,
           CAST(cents AS DOUBLE)
             / CAST(SUM(cents) OVER (PARTITION BY region) AS BIGINT)
             AS share_of_region,
           CAST(SUM(cents) OVER (PARTITION BY region) AS BIGINT) AS region_cents,
           CAST(CAST(SUM(cents) OVER (PARTITION BY region) AS BIGINT)
                AS DOUBLE)
             / CAST(SUM(cents) OVER () AS BIGINT) AS region_share_of_total
    FROM rev
    """,
)
def agg_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent rollup across the region > nation hierarchy: each
    nation's revenue share within its region AND each region's share of
    the total, in one pass — the percent-of-parent shape every OLAP
    drill-down renders (rollup/cube give the absolute subtotals; this
    gives the ratios, which is what the report actually shows). The
    base aggregate reduces facts to |nations| rows through broadcast
    dim joins; both shares are window sums over that bounded table
    (exact BIGINT cents, cast BIGINT before every double division per
    the HUGEINT window-sum rule)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    wr = Window.partitionBy("region")
    wt = Window.partitionBy()
    region_cents = F.sum("cents").over(wr).cast("bigint")
    total_cents = F.sum("cents").over(wt).cast("bigint")
    return rev.select(
        "region",
        "nation",
        "cents",
        (F.col("cents").cast("double") / region_cents).alias(
            "share_of_region"
        ),
        region_cents.alias("region_cents"),
        (region_cents.cast("double") / total_cents).alias(
            "region_share_of_total"
        ),
    )


@_q(
    "join_not_in_null_semantics",
    """
    WITH probe AS (
      SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL
                  ELSE c_custkey END AS k
      FROM customer
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
       WHERE o_custkey NOT IN (SELECT k FROM probe)) AS n_not_in_with_nulls,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
       WHERE o_custkey NOT IN (SELECT k FROM probe WHERE k IS NOT NULL))
        AS n_not_in_nulls_filtered,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = o.o_custkey))
        AS n_not_exists
    """,
)
def join_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap, pinned as a graded three-way comparison:
    with a single NULL in the subquery, ANSI three-valued logic makes
    `x NOT IN (...)` UNKNOWN for every row — the count collapses to 0 —
    while the null-filtered NOT IN and the NOT EXISTS rewrite return
    the real anti-join count (and NOT EXISTS treats NULL probes as
    non-matching, which is almost always what the query author meant).
    This is the most common silent-wrong-answer bug in hand-written
    SQL pipelines; grading all three side by side proves the engine
    implements the standard, and the docstring is the migration note:
    rewrite NOT IN as NOT EXISTS (Spark plans both as the same
    null-aware anti join, so there is no performance excuse)."""
    return spark.sql(
        """
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM {orders}
           WHERE o_custkey NOT IN (SELECT k FROM {probe}))
            AS n_not_in_with_nulls,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM {orders}
           WHERE o_custkey NOT IN (SELECT k FROM {probe}
                                   WHERE k IS NOT NULL))
            AS n_not_in_nulls_filtered,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM {orders} o
           WHERE NOT EXISTS (SELECT 1 FROM {probe} p
                             WHERE p.k = o.o_custkey))
            AS n_not_exists
        """,
        orders=load_table(spark, sf_dir, "orders"),
        probe=load_table(spark, sf_dir, "customer").select(
            F.when(F.col("c_custkey") % 100 == 0, None)
            .otherwise(F.col("c_custkey"))
            .alias("k")
        ),
    )


@_q(
    "basket_association_rules",
    """
    WITH baskets AS (
      SELECT l_orderkey, l_partkey FROM lineitem GROUP BY l_orderkey, l_partkey
    ), n_orders AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM baskets
    ), item AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
      FROM baskets GROUP BY l_partkey
    ), pair AS (
      SELECT a.l_partkey AS ante, b.l_partkey AS cons,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.ante, p.cons, p.n_both,
           ia.n_item AS n_ante,
           CAST(p.n_both AS DOUBLE) / ia.n_item AS confidence,
           CAST(p.n_both AS DOUBLE) * (SELECT n FROM n_orders)
             / (CAST(ia.n_item AS DOUBLE) * ic.n_item) AS lift
    FROM pair p
    JOIN item ia ON ia.l_partkey = p.ante
    JOIN item ic ON ic.l_partkey = p.cons
    WHERE p.n_both >= 3
    ORDER BY lift DESC, p.ante, p.cons
    LIMIT 25
    """,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules proper (ante -> cons with confidence and lift),
    completing the market-basket pipeline basket_part_pairs starts:
    support counts become directional rules, confidence = P(cons|ante),
    lift = confidence / P(cons) — lift > 1 is the actual 'bought
    together' signal merchandising and recommender bootstraps act on
    (raw co-occurrence rewards popular items; lift corrects for it).
    Same bounded basket-squared pair join co-partitioned on the order
    key; item supports broadcast onto the pair table; a n_both >= 3
    support floor keeps noise rules out and the top-25 by lift is a
    TakeOrderedAndProject. Exact BIGINT counts; confidence/lift single
    double expressions."""
    li = load_table(spark, sf_dir, "lineitem")
    # materialized: the basket table feeds four consumers (the n_baskets
    # count, the item supports, both pair-join sides) — the count() job
    # and the per-branch pruning otherwise re-run the distinct shuffle.
    # Contract note (ADVICE r15 #2): this deliberately deviates from the
    # materialize_reduced "reduced frames only" guidance — the distinct
    # (orderkey, partkey) table is O(|lineitem|), i.e. data-sized. It is
    # acceptable here because the table is two BIGINT columns (a small
    # fraction of lineitem's width) and the four consumers would re-run
    # the full-width scan + distinct otherwise; a 100 TB deployment
    # stages this table to parquet instead (docs/DEPLOY_100TB.md), which
    # also restores lost-block recoverability on a cluster.
    baskets = materialize_reduced(
        li.select("l_orderkey", "l_partkey").distinct()
    )
    n = baskets.select("l_orderkey").distinct().count()
    item = baskets.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("n_item")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("ante"),
            F.col("b.l_partkey").alias("cons"),
        )
        .agg(F.count("*").cast("bigint").alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    ia = item.select(
        F.col("l_partkey").alias("ante"), F.col("n_item").alias("n_ante")
    )
    ic = item.select(
        F.col("l_partkey").alias("cons"), F.col("n_item").alias("n_cons")
    )
    j = pair.join(F.broadcast(ia), "ante").join(F.broadcast(ic), "cons")
    conf = F.col("n_both").cast("double") / F.col("n_ante")
    lift = (
        F.col("n_both").cast("double")
        * F.lit(n)
        / (F.col("n_ante").cast("double") * F.col("n_cons"))
    )
    return (
        j.select(
            "ante",
            "cons",
            "n_both",
            "n_ante",
            conf.alias("confidence"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "ante", "cons")
        .limit(25)
    )


@_q(
    "agg_robust_location_panel",
    """
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_totalprice
      FROM orders
    ), ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents) AS rn,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n
      FROM c
    ), trimmed AS (
      SELECT CAST(SUM(cents) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM ranked
      WHERE rn > (n * 5) // 100 AND rn <= n - (n * 5) // 100
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_rows,
           (SELECT CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE)
              / COUNT(*) / 100.0 FROM c) AS mean_price,
           (SELECT median(o_totalprice) FROM c) AS median_price,
           (SELECT CAST(s AS DOUBLE) / m / 100.0 FROM trimmed)
             AS trimmed_mean_5pct,
           (SELECT (quantile_cont(o_totalprice, 0.25)
                    + quantile_cont(o_totalprice, 0.75)) / 2.0 FROM c)
             AS midhinge
    """,
)
def agg_robust_location_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location panel: mean, median, 5%-trimmed mean, and
    midhinge side by side in one report — the spread between them IS
    the diagnosis (mean >> median = right-skew or contamination;
    trimmed mean tracking median = outlier-driven, tracking mean =
    genuine heavy tail), which is why robust-stats reviews print the
    panel rather than any single number. Mean and trimmed mean close
    from exact BIGINT cent sums (the trim is a rank filter over the
    proven ROW_NUMBER ordering — ties are equal values, so the cut is
    deterministic); median and midhinge reuse the graded interpolated
    quantile contract. One global sort of the reduced cents column for
    the ranks; everything else is single-pass aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_totalprice",
    )
    n = c.count()
    k = (n * 5) // 100
    w = Window.orderBy("cents")
    ranked = c.select("cents", F.row_number().over(w).alias("rn"))
    trimmed = ranked.filter(
        (F.col("rn") > k) & (F.col("rn") <= n - k)
    ).agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("m"),
    )
    base = c.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (
            F.sum("cents").cast("bigint").cast("double")
            / F.count("*")
            / F.lit(100.0)
        ).alias("mean_price"),
        F.median("o_totalprice").alias("median_price"),
        (
            (
                F.percentile(F.col("o_totalprice"), F.lit(0.25))
                + F.percentile(F.col("o_totalprice"), F.lit(0.75))
            )
            / F.lit(2.0)
        ).alias("midhinge"),
    )
    return base.crossJoin(F.broadcast(trimmed)).select(
        "n_rows",
        "mean_price",
        "median_price",
        (F.col("s").cast("double") / F.col("m") / F.lit(100.0)).alias(
            "trimmed_mean_5pct"
        ),
        "midhinge",
    )


@_q(
    "agg_largest_remainder_percent",
    """
    WITH rev AS (
      SELECT r.r_name AS region,
             CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name
    ), tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM rev),
    parts AS (
      SELECT region, cents,
             (cents * 100) // (SELECT t FROM tot) AS floor_pct,
             (cents * 100) % (SELECT t FROM tot) AS remainder
      FROM rev
    ), short AS (
      SELECT 100 - CAST(SUM(floor_pct) AS BIGINT) AS k FROM parts
    )
    SELECT region, cents, CAST(floor_pct AS BIGINT) AS floor_pct,
           CAST(floor_pct + CASE WHEN rk <= (SELECT k FROM short)
                                 THEN 1 ELSE 0 END AS BIGINT)
             AS allocated_pct
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY remainder DESC, region) AS rk
      FROM parts
    )
    """,
)
def agg_largest_remainder_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: allocate exactly 100
    integer percentage points across regions by revenue — the
    rounding-to-a-fixed-total problem every report with a percentage
    column hits (independent rounding sums to 99 or 101; the fix is
    floor everyone, then hand the missing points to the largest
    fractional remainders, deterministic region tie-break). All
    arithmetic is exact integers — (cents*100) div/mod total — so the
    allocation is bit-stable and the invariant SUM(allocated)=100 is
    structural, not lucky; pinned in pytest alongside the
    at-most-one-point deviation from the floor."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    tot = rev.agg(F.sum("cents").cast("bigint").alias("t"))
    parts = rev.crossJoin(F.broadcast(tot)).select(
        "region",
        "cents",
        F.expr("(cents * 100) div t").alias("floor_pct"),
        F.expr("(cents * 100) % t").alias("remainder"),
    )
    short = parts.agg(
        (F.lit(100) - F.sum("floor_pct")).cast("bigint").alias("k")
    )
    w = Window.orderBy(F.col("remainder").desc(), "region")
    ranked = parts.withColumn("rk", F.row_number().over(w)).crossJoin(
        F.broadcast(short)
    )
    return ranked.select(
        "region",
        "cents",
        F.col("floor_pct").cast("bigint").alias("floor_pct"),
        (
            F.col("floor_pct")
            + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("allocated_pct"),
    )


@_q(
    "agg_simpsons_paradox_audit",
    f"""
    WITH seg AS (
      SELECT o_orderpriority, o_orderstatus,
             COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS s
      FROM orders GROUP BY 1, 2
    ), per_group AS (
      SELECT o_orderpriority,
             CAST(SUM(s) AS DOUBLE) / CAST(SUM(n) AS BIGINT) AS pooled_avg,
             CAST(SUM(CAST(round((CAST(s AS DOUBLE) / n) * 1000000.0) AS BIGINT)) AS BIGINT)
               AS seg_mean_fp_sum,
             COUNT(*) AS n_segments,
             CAST(SUM(n) AS BIGINT) AS n_orders
      FROM seg GROUP BY 1
    ), ranked AS (
      SELECT o_orderpriority, pooled_avg,
             CAST(seg_mean_fp_sum AS DOUBLE) / (1000000.0 * n_segments)
               AS unweighted_avg,
             n_segments, n_orders,
             RANK() OVER (ORDER BY pooled_avg DESC, o_orderpriority) AS rank_pooled,
             RANK() OVER (
               ORDER BY CAST(seg_mean_fp_sum AS DOUBLE) / (1000000.0 * n_segments) DESC,
                        o_orderpriority
             ) AS rank_unweighted
      FROM per_group
    )
    SELECT o_orderpriority, pooled_avg, unweighted_avg,
           CAST(n_segments AS BIGINT) AS n_segments, n_orders,
           CAST(rank_pooled AS BIGINT) AS rank_pooled,
           CAST(rank_unweighted AS BIGINT) AS rank_unweighted,
           rank_pooled <> rank_unweighted AS rank_flipped
    FROM ranked
    """,
)
def agg_simpsons_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen: for each order priority, the pooled
    (ratio-of-sums) average order value vs the unweighted mean of
    per-status averages, with the rank each measure assigns and a flag
    where the two rankings disagree — the aggregation-bias audit run
    before publishing any per-group KPI whose segment mix differs across
    groups. Determinism: pooled = exact DECIMAL sum / exact BIGINT count
    (one IEEE division); the unweighted mean sums per-segment means —
    each a deterministic double — through the 1e-6 fixed-point snap
    (round() is half-away-from-zero in both engines) so the 3-addend sum
    is exact integer arithmetic, never order-dependent double
    accumulation. Scale: everything beyond the first map-side-combinable
    |groups x statuses| aggregate runs on a <=15-row table."""
    seg = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("s"),
        )
    )
    per_group = seg.groupBy("o_orderpriority").agg(
        (F.sum("s").cast("double") / F.sum("n").cast("bigint")).alias(
            "pooled_avg"
        ),
        F.sum(
            F.round((F.col("s").cast("double") / F.col("n")) * 1000000.0, 0).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("seg_mean_fp_sum"),
        F.count("*").alias("n_segments"),
        F.sum("n").cast("bigint").alias("n_orders"),
    )
    unweighted = F.col("seg_mean_fp_sum").cast("double") / (
        1000000.0 * F.col("n_segments")
    )
    ranked = per_group.select(
        "o_orderpriority",
        "pooled_avg",
        unweighted.alias("unweighted_avg"),
        F.col("n_segments").cast("bigint").alias("n_segments"),
        "n_orders",
        F.rank()
        .over(Window.orderBy(F.desc("pooled_avg"), "o_orderpriority"))
        .cast("bigint")
        .alias("rank_pooled"),
        F.rank()
        .over(
            Window.orderBy(
                F.desc(unweighted), "o_orderpriority"
            )
        )
        .cast("bigint")
        .alias("rank_unweighted"),
    )
    return ranked.withColumn(
        "rank_flipped", F.col("rank_pooled") != F.col("rank_unweighted")
    )


@_q(
    "agg_empirical_bayes_rates",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             COUNT(*) AS n_orders,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_f
      FROM orders GROUP BY o_custkey
    ), prior AS (
      SELECT CAST(SUM(n_f) AS BIGINT) AS tot_f,
             CAST(SUM(n_orders) AS BIGINT) AS tot_n
      FROM per_cust
    )
    SELECT p.o_custkey,
           CAST(p.n_orders AS BIGINT) AS n_orders,
           p.n_f,
           CAST(p.n_f AS DOUBLE) / p.n_orders AS raw_rate,
           (p.n_f + 10.0 * (CAST(pr.tot_f AS DOUBLE) / pr.tot_n))
             / (p.n_orders + 10.0) AS smoothed_rate
    FROM per_cust p, prior pr
    ORDER BY (p.n_f + 10.0 * (CAST(pr.tot_f AS DOUBLE) / pr.tot_n))
             / (p.n_orders + 10.0) DESC, p.o_custkey
    LIMIT 25
    """,
)
def agg_empirical_bayes_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes smoothed proportions — the fix for ranking
    small-sample rates: each customer's F-status order rate is shrunk
    toward the corpus prior with pseudo-count k=10,
    ``(x + k*p0) / (n + k)``, so a 1-of-1 customer no longer outranks a
    40-of-50 one. The top-25 by smoothed rate is the graded output, raw
    rate alongside for the contrast. Arithmetic: exact BIGINT counts, a
    broadcast 1-row prior, and per-row single-division IEEE doubles with
    pinned expression shape — deterministic ordering with custkey
    tie-break. One map-side-combinable agg + TakeOrderedAndProject."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("n_f"),
    )
    prior = per_cust.agg(
        F.sum("n_f").cast("bigint").alias("tot_f"),
        F.sum("n_orders").cast("bigint").alias("tot_n"),
    )
    p0 = F.col("tot_f").cast("double") / F.col("tot_n")
    smoothed = (F.col("n_f") + F.lit(10.0) * p0) / (
        F.col("n_orders") + F.lit(10.0)
    )
    return (
        per_cust.crossJoin(F.broadcast(prior))
        .select(
            "o_custkey",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            "n_f",
            (F.col("n_f").cast("double") / F.col("n_orders")).alias(
                "raw_rate"
            ),
            smoothed.alias("smoothed_rate"),
        )
        .orderBy(F.desc("smoothed_rate"), "o_custkey")
        .limit(25)
    )


@_q(
    "agg_lorenz_curve_deciles",
    """
    WITH per_cust AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS v
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT v,
             NTILE(10) OVER (ORDER BY v, o_custkey) AS decile
      FROM per_cust
    ), tot AS (
      SELECT SUM(v) AS tot_v, COUNT(*) AS tot_n FROM per_cust
    ), per_decile AS (
      SELECT decile, SUM(v) AS dv, COUNT(*) AS dn
      FROM ranked GROUP BY decile
    ), cum AS (
      SELECT decile, dn, dv,
             SUM(dv) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_v,
             CAST(SUM(dn) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_n
      FROM per_decile
    )
    SELECT CAST(c.decile AS BIGINT) AS decile,
           CAST(c.dn AS BIGINT) AS n_customers,
           CAST(c.cum_n AS DOUBLE) / t.tot_n AS cum_pop_share,
           CAST(c.cum_v AS DOUBLE) / CAST(t.tot_v AS DOUBLE)
             AS cum_value_share
    FROM cum c, tot t
    """,
)
def agg_lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at decile cuts: customers ordered by total spend,
    cumulative population share vs cumulative value share per decile —
    the curve whose area complement is the graded Gini
    (agg_gini_concentration); the deciles are the dashboard-friendly
    readout of the same inequality. Exact DECIMAL spend sums through
    the decile rollup and cumulative window; NTILE over (v, custkey)
    pins ties; the only doubles are the two final share divisions.
    The window runs over the reduced per-customer table, then 10
    rows."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("v")
    )
    ranked = per_cust.select(
        "v",
        F.ntile(10).over(Window.orderBy("v", "o_custkey")).alias("decile"),
    )
    tot = per_cust.agg(
        F.sum("v").alias("tot_v"), F.count("*").alias("tot_n")
    )
    per_decile = ranked.groupBy("decile").agg(
        F.sum("v").alias("dv"), F.count("*").alias("dn")
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_decile.select(
        "decile",
        "dn",
        F.sum("dv").over(wc).alias("cum_v"),
        F.sum("dn").over(wc).cast("bigint").alias("cum_n"),
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        F.col("decile").cast("bigint").alias("decile"),
        F.col("dn").cast("bigint").alias("n_customers"),
        (F.col("cum_n").cast("double") / F.col("tot_n")).alias(
            "cum_pop_share"
        ),
        (F.col("cum_v").cast("double") / F.col("tot_v").cast("double")).alias(
            "cum_value_share"
        ),
    )


@_q(
    "agg_chi_square_independence",
    """
    WITH obs AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ), margins AS (
      SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM obs GROUP BY a
    ), margins_b AS (
      SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM obs GROUP BY b
    ), tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    cells AS (
      SELECT m.a, mb.b,
             COALESCE(obs.o, 0) AS o,
             (CAST(m.ra AS DOUBLE) * mb.cb) / t.n AS e
      FROM margins m CROSS JOIN margins_b mb CROSS JOIN tot t
      LEFT JOIN obs ON obs.a = m.a AND obs.b = mb.b
    ), terms AS (
      SELECT CAST(SUM(CAST(round(((o - e) * (o - e) / e) * 1000000000.0)
                          AS BIGINT)) AS BIGINT) AS chi2_fp,
             CAST(COUNT(*) AS BIGINT) AS n_cells
      FROM cells
    )
    SELECT CAST(t2.chi2_fp AS DOUBLE) / 1000000000.0 AS chi_square,
           t2.n_cells,
           CAST(((SELECT COUNT(*) FROM margins) - 1)
                * ((SELECT COUNT(*) FROM margins_b) - 1) AS BIGINT)
             AS degrees_of_freedom,
           t.n AS n_rows
    FROM terms t2, tot t
    """,
)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for the order-priority x
    order-status contingency table: expected counts from the margin
    product, SUM((O - E)^2 / E) over ALL cells including structural
    zeros (the LEFT join against the margin cross product supplies
    them — dropping empty cells silently deflates the statistic), plus
    degrees of freedom. The p-value lookup is deliberately out of scope
    (it needs the incomplete gamma function — libm territory); the
    statistic and dof are the distributed part, and every per-cell term
    is deterministic IEEE arithmetic snapped to 1e-9 fixed point so the
    cross-cell SUM is exact integer addition in both engines. Work
    beyond one map-side-combinable count is |A| x |B| cells."""
    orders = load_table(spark, sf_dir, "orders")
    obs = orders.groupBy(
        F.col("o_orderpriority").alias("a"),
        F.col("o_orderstatus").alias("b"),
    ).agg(F.count("*").cast("bigint").alias("o"))
    ma = obs.groupBy("a").agg(F.sum("o").cast("bigint").alias("ra"))
    mb = obs.groupBy("b").agg(F.sum("o").cast("bigint").alias("cb"))
    tot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    cells = (
        ma.crossJoin(mb)
        .crossJoin(F.broadcast(tot))
        .join(obs, ["a", "b"], "left")
        .select(
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            ((F.col("ra").cast("double") * F.col("cb")) / F.col("n")).alias(
                "e"
            ),
        )
    )
    term_fp = F.round(
        ((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"))
        * 1000000000.0,
        0,
    ).cast("bigint")
    terms = cells.agg(
        F.sum(term_fp).cast("bigint").alias("chi2_fp"),
        F.count("*").cast("bigint").alias("n_cells"),
    )
    dof = (
        (ma.count() - 1) * (mb.count() - 1)
    )
    return (
        terms.crossJoin(F.broadcast(tot))
        .select(
            (F.col("chi2_fp").cast("double") / 1000000000.0).alias(
                "chi_square"
            ),
            "n_cells",
            F.lit(dof).cast("bigint").alias("degrees_of_freedom"),
            F.col("n").alias("n_rows"),
        )
    )


@_q(
    "customer_segment_migration",
    """
    WITH o AS (
      SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS day,
             o_totalprice
      FROM orders
    ), mid AS (
      SELECT MIN(day) + CAST((MAX(day) - MIN(day)) // 2 AS INTEGER)
               AS mid_day FROM o
    ), cust AS (
      SELECT custkey,
             COUNT(CASE WHEN day <= m.mid_day THEN 1 END) AS early_freq,
             COUNT(CASE WHEN day > m.mid_day THEN 1 END) AS late_freq,
             SUM(CASE WHEN day > m.mid_day
                      THEN CAST(o_totalprice AS DECIMAL(30,4)) END)
               AS late_spend_dec
      FROM o CROSS JOIN mid m GROUP BY custkey
    ), cuts AS (
      SELECT quantile_cont(early_freq, 0.5) FILTER (WHERE early_freq > 0)
               AS f_e,
             quantile_cont(late_freq, 0.5) FILTER (WHERE late_freq > 0)
               AS f_l
      FROM cust
    )
    SELECT CASE WHEN early_freq = 0 THEN 'absent'
                WHEN early_freq > f_e THEN 'hi' ELSE 'lo' END AS seg_early,
           CASE WHEN late_freq = 0 THEN 'absent'
                WHEN late_freq > f_l THEN 'hi' ELSE 'lo' END AS seg_late,
           COUNT(*) AS n_customers,
           COALESCE(CAST(SUM(late_spend_dec) AS DOUBLE), 0e0) AS late_spend
    FROM cust CROSS JOIN cuts
    GROUP BY 1, 2
    """,
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment MIGRATION matrix — the churn/upsell report every
    retention team runs: split the order history at its calendar midpoint
    (integer date arithmetic, exact in both engines), segment each
    customer per half as absent / lo / hi around that half's median order
    frequency (median over customers PRESENT in the half, via the pinned
    ``exact_quantiles`` = ``quantile_cont`` contract the RFM operator
    established), and count customers per (early, late) cell with the
    late-half revenue they carried (exact decimal two-level sum). One
    orders scan builds the per-customer reduced table (|customers| rows);
    the two median localizations and the final 3x3 rollup run on that
    reduced table, so at 100 TB the only full-data pass is the first
    groupBy, pre-aggregated map-side on the customer key."""
    from ..quantiles import exact_quantiles

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.to_date("o_orderdate").alias("day"),
        "o_totalprice",
    )
    bounds = o.agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax")
    ).collect()[0]
    if bounds["dmin"] is None:
        mid_day = None
    else:
        import datetime as _dt

        mid_day = bounds["dmin"] + _dt.timedelta(
            days=(bounds["dmax"] - bounds["dmin"]).days // 2
        )
    cust = o.groupBy("custkey").agg(
        F.count(F.when(F.col("day") <= F.lit(mid_day), 1)).alias(
            "early_freq"
        ),
        F.count(F.when(F.col("day") > F.lit(mid_day), 1)).alias("late_freq"),
        F.sum(
            F.when(
                F.col("day") > F.lit(mid_day), F.col("o_totalprice")
            ).cast(DEC)
        ).alias("late_spend_dec"),
    )
    # |customers|-bounded and feeds two quantile passes + the rollup
    cust = materialize_reduced(cust)
    f_e = exact_quantiles(
        cust.filter(F.col("early_freq") > 0), "early_freq", [0.5]
    )[0]
    f_l = exact_quantiles(
        cust.filter(F.col("late_freq") > 0), "late_freq", [0.5]
    )[0]
    seg = lambda freq, cut: (
        F.when(F.col(freq) == 0, "absent")
        .when(F.col(freq) > cut, "hi")
        .otherwise("lo")
    )
    return cust.groupBy(
        seg("early_freq", f_e).alias("seg_early"),
        seg("late_freq", f_l).alias("seg_late"),
    ).agg(
        F.count("*").alias("n_customers"),
        F.coalesce(
            F.sum("late_spend_dec").cast("double"), F.lit(0.0)
        ).alias("late_spend"),
    )


@_q(
    "agg_trimmed_mean_by_group",
    f"""
    WITH ranked AS (
      SELECT o_orderpriority,
             CAST(o_totalprice AS DECIMAL(30,4)) AS price,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ), trimmed AS (
      SELECT o_orderpriority, price, n
      FROM ranked
      WHERE rn > n // 10 AND rn <= n - n // 10
    )
    SELECT o_orderpriority,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(price) AS DOUBLE) / COUNT(*) AS trimmed_mean,
           {sql_davg('o_totalprice')
             .replace('o_totalprice', 'price')} AS kept_davg
    FROM trimmed GROUP BY o_orderpriority
    """,
)
def agg_trimmed_mean_by_group(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """10% two-sided TRIMMED mean of order value per priority — the
    robust-location sibling of the winsorized mean (drop the tails
    instead of clamping them): rank within group with a deterministic
    tie-break (price, then orderkey), drop the bottom and top n//10
    rows (integer division — exact, no quantile interpolation), and
    average the middle as an exact decimal sum over an exact count.
    One window pass over the group partitioning the final aggregate
    reuses, so the whole operator is a single shuffle on the group
    key."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wn = Window.partitionBy("o_orderpriority")
    ranked = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_totalprice").cast(DEC).alias("price"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    trimmed = ranked.filter(
        (F.col("rn") > F.expr("n div 10"))
        & (F.col("rn") <= F.col("n") - F.expr("n div 10"))
    )
    return trimmed.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_kept"),
        (F.sum("price").cast("double") / F.count("*")).alias(
            "trimmed_mean"
        ),
        (
            F.sum(F.col("price").cast(DEC)).cast("double")
            / F.count(F.col("price"))
        ).alias("kept_davg"),
    )


def fo_cents_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared input of the F-vs-O two-sample tests: per integer-cents
    price, the count of F orders (``a``) and of O orders (``b``).
    Returns (cents, a, b)."""
    v = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.col("o_orderstatus").alias("g"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        )
    )
    return v.groupBy("cents").agg(
        F.count(F.when(F.col("g") == "F", 1)).cast("bigint").alias("a"),
        F.count(F.when(F.col("g") == "O", 1)).cast("bigint").alias("b"),
    )



def fop_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared input of the three-status (F, O, P) rank tests: one row per
    F/O/P order with its integer-cents price. Returns (g, cents)."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O", "P"))
        .select(
            F.col("o_orderstatus").alias("g"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        )
    )


def priority_cents_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared input of the per-priority quantile statistics: per
    ``o_orderpriority`` stratum and integer-cents price, the order
    count. Returns (g, cents, c)."""
    v = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
    )
    return v.groupBy("g", "cents").agg(F.count("*").cast("bigint").alias("c"))

@_q(
    "agg_mann_whitney_u",
    """
    WITH v AS (
      SELECT o_orderstatus AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), per AS (
      SELECT cents,
             CAST(COUNT(CASE WHEN g = 'F' THEN 1 END) AS BIGINT) AS a,
             CAST(COUNT(CASE WHEN g = 'O' THEN 1 END) AS BIGINT) AS b
      FROM v GROUP BY cents
    ), cum AS (
      SELECT a, b,
             COALESCE(SUM(b) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS b_less
      FROM per
    ), s AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n_f,
             CAST(SUM(b) AS BIGINT) AS n_o,
             CAST(SUM(a * (2 * b_less + b)) AS BIGINT) AS u_f_x2,
             CAST(SUM((a + b) * (a + b) * (a + b) - (a + b)) AS BIGINT)
               AS tie_term
      FROM cum
    )
    SELECT n_f, n_o, u_f_x2,
           CAST(2 * n_f * n_o - u_f_x2 AS BIGINT) AS u_o_x2,
           tie_term,
           CAST(LEAST(u_f_x2, 2 * n_f * n_o - u_f_x2) AS DOUBLE) / 2.0
             AS u_stat
    FROM s
    """,
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between the F and O order-status
    populations on order value — the nonparametric two-sample location
    test that pairs with the chi-square independence operator. Instead
    of ranking 100 TB of rows (a global sort), the classic identity
    U_F = sum over distinct values v of a_v * (#O below v) + a_v*b_v/2
    is computed on the distinct-VALUE table: one hash aggregation on
    cents (bounded by the price domain, not the row count), one
    cumulative window over that reduced table, exact BIGINT throughout
    (doubled units so the half-tie credit stays integer). Ties are
    first-class: tie_term = SUM(t^3 - t) is the variance correction a
    downstream z-test needs. The only single-partition stage is the
    window over distinct cents values; at 100 TB that table is still
    ~1e6 rows (price-domain bounded) — range-partition it if not."""
    per = fo_cents_counts(spark, sf_dir)
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.select(
        "a",
        "b",
        F.coalesce(F.sum("b").over(w), F.lit(0)).alias("b_less"),
    )
    t = F.col("a") + F.col("b")
    s = cum.agg(
        F.sum("a").cast("bigint").alias("n_f"),
        F.sum("b").cast("bigint").alias("n_o"),
        F.sum(F.col("a") * (2 * F.col("b_less") + F.col("b")))
        .cast("bigint")
        .alias("u_f_x2"),
        F.sum(t * t * t - t).cast("bigint").alias("tie_term"),
    )
    u_o_x2 = (2 * F.col("n_f") * F.col("n_o") - F.col("u_f_x2")).cast(
        "bigint"
    )
    return s.select(
        "n_f",
        "n_o",
        "u_f_x2",
        u_o_x2.alias("u_o_x2"),
        "tie_term",
        (
            F.least(F.col("u_f_x2"), u_o_x2).cast("double") / 2.0
        ).alias("u_stat"),
    )


@_q(
    "agg_ks_two_sample",
    """
    WITH v AS (
      SELECT o_orderstatus AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), per AS (
      SELECT cents,
             CAST(COUNT(CASE WHEN g = 'F' THEN 1 END) AS BIGINT) AS a,
             CAST(COUNT(CASE WHEN g = 'O' THEN 1 END) AS BIGINT) AS b
      FROM v GROUP BY cents
    ), cum AS (
      SELECT SUM(a) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             SUM(b) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
      FROM per
    ), tot AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n_f, CAST(SUM(b) AS BIGINT) AS n_o
      FROM per
    )
    SELECT t.n_f, t.n_o,
           CAST(MAX(ABS(c.ca * t.n_o - c.cb * t.n_f)) AS BIGINT) AS d_num,
           CAST(MAX(ABS(c.ca * t.n_o - c.cb * t.n_f)) AS DOUBLE)
             / (CAST(t.n_f AS DOUBLE) * t.n_o) AS d_stat
    FROM cum c CROSS JOIN tot t
    GROUP BY t.n_f, t.n_o
    """,
)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D statistic between the F and O
    order-value distributions, computed EXACTLY: D = max |ECDF_F -
    ECDF_O| evaluated only at distinct values (where the max must
    occur), with the fraction cleared to the integer lattice —
    d_num = max |cum_F * n_O - cum_O * n_F| is exact BIGINT, and the
    one double division at the end is the same IEEE operation in both
    engines. Same scale shape as the Mann-Whitney operator: a hash agg
    to the distinct-value table, one cumulative window over it. The
    cross products stay under 2^63 while n_F*n_O < 9e18 (fine to ~3e9
    rows/side); beyond that, route the lattice through DECIMAL(38,0)."""
    per = fo_cents_counts(spark, sf_dir)
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")
    )
    tot = per.agg(
        F.sum("a").cast("bigint").alias("n_f"),
        F.sum("b").cast("bigint").alias("n_o"),
    )
    diff = F.abs(F.col("ca") * F.col("n_o") - F.col("cb") * F.col("n_f"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n_f", "n_o")
        .agg(
            F.max(diff).cast("bigint").alias("d_num"),
            (
                F.max(diff).cast("double")
                / (F.col("n_f").cast("double") * F.col("n_o"))
            ).alias("d_stat"),
        )
    )


@_q(
    "agg_spearman_rho",
    """
    WITH r AS (
      SELECT l_returnflag AS flag,
             2 * RANK() OVER (PARTITION BY l_returnflag
                              ORDER BY CAST(round(l_quantity * 100)
                                            AS BIGINT))
               + COUNT(*) OVER (PARTITION BY l_returnflag,
                                CAST(round(l_quantity * 100) AS BIGINT))
               - 1 AS rx2,
             2 * RANK() OVER (PARTITION BY l_returnflag
                              ORDER BY CAST(round(l_extendedprice * 100)
                                            AS BIGINT))
               + COUNT(*) OVER (PARTITION BY l_returnflag,
                                CAST(round(l_extendedprice * 100)
                                     AS BIGINT))
               - 1 AS ry2
      FROM lineitem
    ), m AS (
      SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(rx2) AS BIGINT) AS DOUBLE) AS sx,
             CAST(CAST(SUM(ry2) AS BIGINT) AS DOUBLE) AS sy,
             CAST(CAST(SUM(rx2 * rx2) AS BIGINT) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(ry2 * ry2) AS BIGINT) AS DOUBLE) AS syy,
             CAST(CAST(SUM(rx2 * ry2) AS BIGINT) AS DOUBLE) AS sxy
      FROM r GROUP BY flag
    )
    SELECT flag, n,
           (n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))
             AS rho_spearman
    FROM m
    """,
)
def agg_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price per
    return flag: Pearson's formula applied to AVERAGE ranks (the
    tie-correct definition), with ranks held on the doubled-integer
    lattice (2*avg_rank = 2*min_rank + tie_count - 1 is always integer)
    so every moment sum is exact — the same exact-moment discipline as
    ``agg_corr_exact``, one double expression at the end. Rank
    assignment is two window passes partitioned by the group key (no
    global sort); at 100 TB swap the row-level window for the
    distinct-value rank map (quantity has ~50 distinct values, prices a
    domain-bounded table) joined back broadcast. Moment sums go through
    DECIMAL (exact) before the single BIGINT->DOUBLE conversion; row
    products rx2*ry2 stay under 2^63 to ~1e9 rows per group."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_quantity") * 100, 0).cast("bigint").alias("xv"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("yv"),
    )
    rx2 = (
        2 * F.rank().over(Window.partitionBy("flag").orderBy("xv"))
        + F.count("*").over(Window.partitionBy("flag", "xv"))
        - 1
    ).cast("bigint")
    ry2 = (
        2 * F.rank().over(Window.partitionBy("flag").orderBy("yv"))
        + F.count("*").over(Window.partitionBy("flag", "yv"))
        - 1
    ).cast("bigint")
    r = li.select("flag", rx2.alias("rx2"), ry2.alias("ry2"))
    d38 = "decimal(38,0)"
    # exact decimal sums pivoted through BIGINT: int64->double is a single
    # correctly-rounded conversion in both engines, while decimal128/
    # hugeint->double beyond 2^53 can differ by one ulp (round-7 lesson).
    m = r.groupBy("flag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("rx2").cast(d38)).cast("bigint").cast("double").alias("sx"),
        F.sum(F.col("ry2").cast(d38)).cast("bigint").cast("double").alias("sy"),
        F.sum((F.col("rx2") * F.col("rx2")).cast(d38))
        .cast("bigint")
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("ry2") * F.col("ry2")).cast(d38))
        .cast("bigint")
        .cast("double")
        .alias("syy"),
        F.sum((F.col("rx2") * F.col("ry2")).cast(d38))
        .cast("bigint")
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    rho = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.select("flag", "n", rho.alias("rho_spearman"))


@_q(
    "agg_welch_ttest",
    """
    WITH v AS (
      SELECT o_orderstatus AS g,
             CAST(round(o_totalprice) AS BIGINT) AS dollars
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), m AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dollars) AS BIGINT) AS s1,
             CAST(SUM(dollars * dollars) AS BIGINT) AS s2
      FROM v GROUP BY g
    ), w AS (
      SELECT
        (SELECT n FROM m WHERE g = 'F') AS n1,
        (SELECT n FROM m WHERE g = 'O') AS n2,
        (SELECT CAST(s1 AS DOUBLE) / n FROM m WHERE g = 'F') AS m1,
        (SELECT CAST(s1 AS DOUBLE) / n FROM m WHERE g = 'O') AS m2,
        (SELECT (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1)
                  / (n - 1) FROM m WHERE g = 'F') AS v1,
        (SELECT (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1)
                  / (n - 1) FROM m WHERE g = 'O') AS v2
    )
    SELECT n1, n2, m1 - m2 AS mean_diff_dollars,
           (m1 - m2) / SQRT(v1 / n1 + v2 / n2) AS t_stat,
           ((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))
             / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                + (v2 / n2) * (v2 / n2) / (n2 - 1)) AS welch_dof
    FROM w
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between the F and O order-value
    populations — the parametric sibling of the Mann-Whitney operator,
    with the Welch-Satterthwaite effective degrees of freedom alongside
    (the p-value lookup needs the incomplete beta — libm territory,
    same deliberate scope cut as the chi-square operator). Both moment
    sums are exact BIGINTs over integer cents (one hash agg, map-side
    combinable); mean, variance, t, and dof are then ONE fixed chain of
    IEEE double expressions identical in both engines — divisions and
    an IEEE-correctly-rounded SQRT only, no libm transcendentals. The
    value lattice is whole DOLLARS, not cents: the raw second moment in
    cents overflows int64 at sf0.1 (~1e19) and even the floor-mean-
    centered form exceeds 2^63 on this distribution, while the dollar
    lattice keeps raw sums exact to ~sf10 with no precision the t-test
    cares about (measured: identical t to 4 significant digits)."""
    v = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.col("o_orderstatus").alias("g"),
            F.round(F.col("o_totalprice"), 0).cast("bigint").alias("dollars"),
        )
    )
    m = v.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dollars").cast("bigint").alias("s1"),
        F.sum(F.col("dollars") * F.col("dollars"))
        .cast("bigint")
        .alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") / F.col("n") * F.col("s1")
    ) / (F.col("n") - 1)
    f = (
        m.filter(F.col("g") == "F")
        .select(
            F.col("n").alias("n1"), mean.alias("m1"), var.alias("v1")
        )
    )
    o = (
        m.filter(F.col("g") == "O")
        .select(
            F.col("n").alias("n2"), mean.alias("m2"), var.alias("v2")
        )
    )
    w = f.crossJoin(F.broadcast(o))
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    return w.select(
        "n1",
        "n2",
        (F.col("m1") - F.col("m2")).alias("mean_diff_dollars"),
        ((F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2)).alias("t_stat"),
        (
            ((se1 + se2) * (se1 + se2))
            / (
                se1 * se1 / (F.col("n1") - 1)
                + se2 * se2 / (F.col("n2") - 1)
            )
        ).alias("welch_dof"),
    )


@_q(
    "agg_capture_recapture",
    """
    WITH c AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    ), v AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    ), t AS (
      SELECT DISTINCT user_id FROM events
    ), counts AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n1,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n2,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM c JOIN v ON c.user_id = v.user_id) AS m,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_true
    )
    SELECT n1, n2, m, n_true,
           CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT)
             AS chapman_estimate
    FROM counts
    """,
)
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimate (Chapman's bias-corrected
    Lincoln-Petersen): treat the click and view audiences as two
    capture occasions and estimate the total population from their
    overlap — the mark-recapture method ecology uses, and exactly the
    estimator data teams reach for when a user count must be inferred
    from two overlapping partial logs (two tracking SDKs, two lossy
    pipelines). Chapman's (n1+1)(n2+1)/(m+1) - 1 stays on the integer
    lattice by floor division; the fixture's true distinct-user count
    rides along so the verdict grades estimator AND ground truth. Three
    distinct-user sets (hash aggs) and one |users|-bounded join."""
    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id")
        .distinct()
    )
    counts = (
        c.agg(F.count("*").cast("bigint").alias("n1"))
        .crossJoin(v.agg(F.count("*").cast("bigint").alias("n2")))
        .crossJoin(
            c.join(v, "user_id").agg(
                F.count("*").cast("bigint").alias("m")
            )
        )
        .crossJoin(
            ev.select("user_id")
            .distinct()
            .agg(F.count("*").cast("bigint").alias("n_true"))
        )
    )
    return counts.select(
        "n1",
        "n2",
        "m",
        "n_true",
        F.expr(
            "CAST((n1 + 1) * (n2 + 1) div (m + 1) - 1 AS BIGINT)"
        ).alias("chapman_estimate"),
    )


@_q(
    "agg_revenue_decomposition",
    """
    WITH li AS (
      SELECT l.l_partkey AS part,
             CAST(o.o_orderdate AS DATE) AS day,
             CAST(round(l.l_quantity * 100) AS BIGINT) AS q100,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), mid AS (
      SELECT MIN(day) + CAST((MAX(day) - MIN(day)) // 2 AS INTEGER)
               AS mid_day FROM li
    ), per AS (
      SELECT part,
             CAST(SUM(CASE WHEN day <= m.mid_day THEN q100 END)
                  AS BIGINT) AS q1,
             CAST(SUM(CASE WHEN day <= m.mid_day THEN cents END)
                  AS BIGINT) AS v1,
             CAST(SUM(CASE WHEN day > m.mid_day THEN q100 END)
                  AS BIGINT) AS q2,
             CAST(SUM(CASE WHEN day > m.mid_day THEN cents END)
                  AS BIGINT) AS v2
      FROM li CROSS JOIN mid m GROUP BY part
    ), both_p AS (
      SELECT * FROM per WHERE q1 IS NOT NULL AND q2 IS NOT NULL
                          AND q1 > 0
    )
    SELECT
      CAST((SELECT SUM(COALESCE(v2, 0)) - SUM(COALESCE(v1, 0)) FROM per)
           AS BIGINT) AS delta_cents,
      CAST(SUM((q2 - q1) * v1 // q1) AS BIGINT) AS volume_effect_cents,
      CAST(SUM(v2 - v1 - ((q2 - q1) * v1 // q1)) AS BIGINT)
        AS price_mix_effect_cents,
      CAST((SELECT SUM(v2) FROM per WHERE q1 IS NULL) AS BIGINT)
        AS new_parts_cents,
      CAST((SELECT SUM(-v1) FROM per WHERE q2 IS NULL) AS BIGINT)
        AS discontinued_cents,
      CAST(COUNT(*) AS BIGINT) AS n_carryover_parts
    FROM both_p
    """,
)
def agg_revenue_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period revenue decomposition (the Laspeyres
    volume/price bridge every finance review runs): split the order
    calendar at its midpoint, then attribute the revenue change to (a)
    volume — quantity change valued at the part's FIRST-period unit
    economics, (q2-q1)*v1//q1 on the exact integer lattice, (b) the
    price/mix remainder per carried-over part, (c) newly introduced
    parts, and (d) discontinued parts — the four terms reconcile to the
    total delta BY CONSTRUCTION (the remainder is defined as v2-v1
    minus the volume term; pinned in pytest). Quantities ride a x100
    lattice and revenue exact cents; the only division is floor
    division per part, identical in both engines. One join, one
    per-part agg (map-side combinable), |parts|-bounded arithmetic
    after that."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_partkey").alias("part"),
            F.to_date("o_orderdate").alias("day"),
            F.round(F.col("l_quantity") * 100, 0)
            .cast("bigint")
            .alias("q100"),
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        )
    )
    bounds = li.agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax")
    ).select(
        F.expr("date_add(dmin, CAST(datediff(dmax, dmin) div 2 AS INT))")
        .alias("mid_day")
    )
    per = materialize_reduced(
        li.crossJoin(F.broadcast(bounds))
        .groupBy("part")
        .agg(
            F.sum(F.when(F.col("day") <= F.col("mid_day"), F.col("q100")))
            .cast("bigint")
            .alias("q1"),
            F.sum(F.when(F.col("day") <= F.col("mid_day"), F.col("cents")))
            .cast("bigint")
            .alias("v1"),
            F.sum(F.when(F.col("day") > F.col("mid_day"), F.col("q100")))
            .cast("bigint")
            .alias("q2"),
            F.sum(F.when(F.col("day") > F.col("mid_day"), F.col("cents")))
            .cast("bigint")
            .alias("v2"),
        )
    )
    both_p = per.filter(
        F.col("q1").isNotNull() & F.col("q2").isNotNull() & (F.col("q1") > 0)
    )
    vol = F.expr("(q2 - q1) * v1 div q1")
    carry = both_p.agg(
        F.sum(vol).cast("bigint").alias("volume_effect_cents"),
        F.sum(F.col("v2") - F.col("v1") - vol)
        .cast("bigint")
        .alias("price_mix_effect_cents"),
        F.count("*").cast("bigint").alias("n_carryover_parts"),
    )
    totals = per.agg(
        (
            F.sum(F.coalesce(F.col("v2"), F.lit(0)))
            - F.sum(F.coalesce(F.col("v1"), F.lit(0)))
        )
        .cast("bigint")
        .alias("delta_cents"),
        F.sum(F.when(F.col("q1").isNull(), F.col("v2")))
        .cast("bigint")
        .alias("new_parts_cents"),
        F.sum(F.when(F.col("q2").isNull(), -F.col("v1")))
        .cast("bigint")
        .alias("discontinued_cents"),
    )
    return totals.crossJoin(F.broadcast(carry)).select(
        "delta_cents",
        "volume_effect_cents",
        "price_mix_effect_cents",
        "new_parts_cents",
        "discontinued_cents",
        "n_carryover_parts",
    )


@_q(
    "agg_proportion_ztest",
    """
    WITH v AS (
      SELECT o_orderpriority AS grp,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), m AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS k
      FROM v GROUP BY grp
    ), w AS (
      SELECT (SELECT n FROM m WHERE grp = '1-URGENT') AS n1,
             (SELECT k FROM m WHERE grp = '1-URGENT') AS k1,
             (SELECT n FROM m WHERE grp = '5-LOW') AS n2,
             (SELECT k FROM m WHERE grp = '5-LOW') AS k2
    )
    SELECT n1, k1, n2, k2,
           CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2
             AS rate_diff,
           (CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2)
             / SQRT((CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
                    * (1.0 - CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
                    * (1.0 / n1 + 1.0 / n2)) AS z_stat
    FROM w
    """,
)
def agg_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (pooled) — the conversion-rate comparison
    that closes the inference family (chi-square for full tables,
    Mann-Whitney/KS for distributions, Welch for means, CUPED for
    variance reduction, this for binomial rates): the F-status rate of
    urgent vs low-priority orders. Four exact BIGINT counts feed one
    fixed IEEE expression chain — divisions and one correctly-rounded
    SQRT, no libm. Equivalent to the 2x2 chi-square (z^2 = chi2) but
    SIGNED, which is what a launch/holdback readout needs. One
    map-side-combinable aggregation at any scale."""
    v = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        )
    )
    m = v.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("k"),
    )
    a = m.filter(F.col("grp") == "1-URGENT").select(
        F.col("n").alias("n1"), F.col("k").alias("k1")
    )
    b = m.filter(F.col("grp") == "5-LOW").select(
        F.col("n").alias("n2"), F.col("k").alias("k2")
    )
    w = a.crossJoin(F.broadcast(b))
    p1 = F.col("k1").cast("double") / F.col("n1")
    p2 = F.col("k2").cast("double") / F.col("n2")
    pp = (F.col("k1") + F.col("k2")).cast("double") / (
        F.col("n1") + F.col("n2")
    )
    return w.select(
        "n1",
        "k1",
        "n2",
        "k2",
        (p1 - p2).alias("rate_diff"),
        (
            (p1 - p2)
            / F.sqrt(
                pp * (1.0 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))
            )
        ).alias("z_stat"),
    )


@_q(
    "agg_odds_ratio_2x2",
    """
    WITH v AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS exposed,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS outcome
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), cells AS (
      SELECT CAST(SUM(exposed * outcome) AS BIGINT) AS a,
             CAST(SUM(exposed * (1 - outcome)) AS BIGINT) AS b,
             CAST(SUM((1 - exposed) * outcome) AS BIGINT) AS c,
             CAST(SUM((1 - exposed) * (1 - outcome)) AS BIGINT) AS d
      FROM v
    )
    SELECT a, b, c, d,
           (CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c)
             AS odds_ratio,
           ((CAST(a AS DOUBLE) + 0.5) * (CAST(d AS DOUBLE) + 0.5))
             / ((CAST(b AS DOUBLE) + 0.5) * (CAST(c AS DOUBLE) + 0.5))
             AS odds_ratio_haldane
    FROM cells
    """,
)
def agg_odds_ratio_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 odds ratio with the Haldane-Anscombe +0.5 correction — the
    case-control effect measure that complements the two-proportion
    z-test (the z answers 'is there a difference', the OR answers 'how
    strong is the association' and stays estimable when a margin is
    rare): urgent-priority exposure against F-status outcome. The four
    cells are one exact-integer aggregation; both ratios are fixed IEEE
    expression chains (two multiplies, one division — identical in
    both engines), and the Haldane variant never zero-divides, so the
    operator is total even on degenerate strata. The log-OR confidence
    interval needs ln — deliberately out of scope like every libm
    lookup in this family."""
    v = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("exposed"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .otherwise(0)
            .alias("outcome"),
        )
    )
    cells = v.agg(
        F.sum(F.col("exposed") * F.col("outcome"))
        .cast("bigint")
        .alias("a"),
        F.sum(F.col("exposed") * (1 - F.col("outcome")))
        .cast("bigint")
        .alias("b"),
        F.sum((1 - F.col("exposed")) * F.col("outcome"))
        .cast("bigint")
        .alias("c"),
        F.sum((1 - F.col("exposed")) * (1 - F.col("outcome")))
        .cast("bigint")
        .alias("d"),
    )
    a, b = F.col("a").cast("double"), F.col("b").cast("double")
    c, d = F.col("c").cast("double"), F.col("d").cast("double")
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        ((a * F.col("d")) / (b * F.col("c"))).alias("odds_ratio"),
        (
            ((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5))
        ).alias("odds_ratio_haldane"),
    )


# --- round-11 wave-1 stats family (docs/ROADMAP_r11.md #1-#8) --------------
# Shared contract (the round-10 hazard): a float SUM over k group terms is
# partition-order dependent, so every k-group float reduction below is
# UNROLLED over the bounded group vocabulary into one fixed-order addition
# chain ((t0 + t1) + t2)... — identical parenthesization on both engine
# sides. Rank machinery follows agg_mann_whitney_u's per-value-table
# identity (no global sort); doubled midranks keep rank sums BIGINT-exact.


@_q(
    "agg_kruskal_wallis",
    """
    WITH v AS (
      SELECT o_orderstatus AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')
    ), per AS (
      SELECT cents,
             CAST(COUNT(CASE WHEN g = 'F' THEN 1 END) AS BIGINT) AS a,
             CAST(COUNT(CASE WHEN g = 'O' THEN 1 END) AS BIGINT) AS b,
             CAST(COUNT(CASE WHEN g = 'P' THEN 1 END) AS BIGINT) AS p,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM v GROUP BY cents
    ), cum AS (
      SELECT a, b, p, c,
             2 * COALESCE(SUM(c) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS dr
      FROM per
    ), s AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n_f,
             CAST(SUM(b) AS BIGINT) AS n_o,
             CAST(SUM(p) AS BIGINT) AS n_p,
             CAST(SUM(a * dr) AS BIGINT) AS dr_f,
             CAST(SUM(b * dr) AS BIGINT) AS dr_o,
             CAST(SUM(p * dr) AS BIGINT) AS dr_p,
             CAST(SUM(c * c * c - c) AS BIGINT) AS tie_term,
             CAST(SUM(c) AS BIGINT) AS n
      FROM cum
    )
    SELECT n, n_f, n_o, n_p, tie_term,
           ((CAST(dr_f AS DOUBLE) * CAST(dr_f AS DOUBLE) * 3.0
               / (CAST(n_f AS DOUBLE) * CAST(n AS DOUBLE)
                  * (CAST(n AS DOUBLE) + 1.0))
             + CAST(dr_o AS DOUBLE) * CAST(dr_o AS DOUBLE) * 3.0
               / (CAST(n_o AS DOUBLE) * CAST(n AS DOUBLE)
                  * (CAST(n AS DOUBLE) + 1.0)))
            + CAST(dr_p AS DOUBLE) * CAST(dr_p AS DOUBLE) * 3.0
              / (CAST(n_p AS DOUBLE) * CAST(n AS DOUBLE)
                 * (CAST(n AS DOUBLE) + 1.0)))
           - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h_stat,
           CASE WHEN 1.0 - CAST(tie_term AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) = 0.0
                THEN NULL ELSE
           (((CAST(dr_f AS DOUBLE) * CAST(dr_f AS DOUBLE) * 3.0
               / (CAST(n_f AS DOUBLE) * CAST(n AS DOUBLE)
                  * (CAST(n AS DOUBLE) + 1.0))
             + CAST(dr_o AS DOUBLE) * CAST(dr_o AS DOUBLE) * 3.0
               / (CAST(n_o AS DOUBLE) * CAST(n AS DOUBLE)
                  * (CAST(n AS DOUBLE) + 1.0)))
            + CAST(dr_p AS DOUBLE) * CAST(dr_p AS DOUBLE) * 3.0
              / (CAST(n_p AS DOUBLE) * CAST(n AS DOUBLE)
                 * (CAST(n AS DOUBLE) + 1.0)))
            - 3.0 * (CAST(n AS DOUBLE) + 1.0))
           / (1.0 - CAST(tie_term AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 - CAST(n AS DOUBLE))) END AS h_adj
    FROM s
    """,
)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis k-sample rank test across the F/O/P order-status
    populations on order value — the k-group extension of the graded
    Mann-Whitney entry, on the same per-value-table rank identity (no
    global sort: one hash agg on cents, one cumulative window over the
    price-domain-bounded distinct-value table). Doubled midranks
    dr = 2*cum_before + c + 1 keep the per-group rank sums BIGINT-exact
    (sum_g a_v*dr_v = 2*R_g); dr_sum^2 (~2e21 at sf0.1) overflows
    BIGINT, so each group's term 3*dr_g^2/(n_g*N*(N+1)) goes through
    DOUBLE — and the k-term reduction is UNROLLED over the bounded
    status vocabulary into one fixed-order addition chain
    ((t_F + t_O) + t_P), because a float SUM over group rows is
    partition-order-dependent (prototype diverged at the 10th decimal
    at sf0.1 without this). Tie correction 1 - sum(t^3-t)/(N^3-N) as a
    second fixed IEEE chain. Scale: BIGINT rank sums hold to ~1.5e9
    rows/group (N*(2N+1) < 2^63); beyond that route dr products
    through DECIMAL(38,0)."""
    v = fop_cents(spark, sf_dir)
    per = v.groupBy("cents").agg(
        F.count(F.when(F.col("g") == "F", 1)).cast("bigint").alias("a"),
        F.count(F.when(F.col("g") == "O", 1)).cast("bigint").alias("b"),
        F.count(F.when(F.col("g") == "P", 1)).cast("bigint").alias("p"),
        F.count("*").cast("bigint").alias("c"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.select(
        "a",
        "b",
        "p",
        "c",
        (
            2 * F.coalesce(F.sum("c").over(w), F.lit(0))
            + F.col("c")
            + 1
        ).alias("dr"),
    )
    c = F.col("c")
    s = cum.agg(
        F.sum("a").cast("bigint").alias("n_f"),
        F.sum("b").cast("bigint").alias("n_o"),
        F.sum("p").cast("bigint").alias("n_p"),
        F.sum(F.col("a") * F.col("dr")).cast("bigint").alias("dr_f"),
        F.sum(F.col("b") * F.col("dr")).cast("bigint").alias("dr_o"),
        F.sum(F.col("p") * F.col("dr")).cast("bigint").alias("dr_p"),
        F.sum(c * c * c - c).cast("bigint").alias("tie_term"),
        F.sum("c").cast("bigint").alias("n"),
    )
    nd = F.col("n").cast("double")

    def term(dr_col: str, n_col: str):
        d = F.col(dr_col).cast("double")
        return (d * d * 3.0) / (
            F.col(n_col).cast("double") * nd * (nd + 1.0)
        )

    h_raw = (
        (term("dr_f", "n_f") + term("dr_o", "n_o")) + term("dr_p", "n_p")
    ) - 3.0 * (nd + 1.0)
    tie_corr = 1.0 - F.col("tie_term").cast("double") / (nd * nd * nd - nd)
    return s.select(
        "n",
        "n_f",
        "n_o",
        "n_p",
        "tie_term",
        h_raw.alias("h_stat"),
        # total even when every value ties (tie_corr hits exactly 0 and
        # ANSI division would raise): NULL, mirrored in the oracle
        F.when(tie_corr != 0.0, h_raw / tie_corr).alias("h_adj"),
    )


@_q(
    "agg_anova_oneway",
    """
    WITH v AS (
      SELECT l_returnflag AS g,
             CAST(round(l_quantity) AS BIGINT) AS q
      FROM lineitem WHERE l_returnflag IN ('A', 'N', 'R')
    ), s AS (
      SELECT CAST(COUNT(CASE WHEN g = 'A' THEN 1 END) AS BIGINT) AS n_a,
             CAST(COUNT(CASE WHEN g = 'N' THEN 1 END) AS BIGINT) AS n_n,
             CAST(COUNT(CASE WHEN g = 'R' THEN 1 END) AS BIGINT) AS n_r,
             CAST(SUM(CASE WHEN g = 'A' THEN q ELSE 0 END) AS BIGINT) AS s1_a,
             CAST(SUM(CASE WHEN g = 'N' THEN q ELSE 0 END) AS BIGINT) AS s1_n,
             CAST(SUM(CASE WHEN g = 'R' THEN q ELSE 0 END) AS BIGINT) AS s1_r,
             CAST(SUM(CASE WHEN g = 'A' THEN q * q ELSE 0 END) AS BIGINT)
               AS s2_a,
             CAST(SUM(CASE WHEN g = 'N' THEN q * q ELSE 0 END) AS BIGINT)
               AS s2_n,
             CAST(SUM(CASE WHEN g = 'R' THEN q * q ELSE 0 END) AS BIGINT)
               AS s2_r,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS s1,
             CAST(SUM(q * q) AS BIGINT) AS s2
      FROM v
    )
    SELECT n, n_a, n_n, n_r,
           ((CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE)
               / CAST(n_a AS DOUBLE)
             + CAST(s1_n AS DOUBLE) * CAST(s1_n AS DOUBLE)
               / CAST(n_n AS DOUBLE))
            + CAST(s1_r AS DOUBLE) * CAST(s1_r AS DOUBLE)
              / CAST(n_r AS DOUBLE))
           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
             AS ss_between,
           ((CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE)
               * CAST(s1_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             + (CAST(s2_n AS DOUBLE) - CAST(s1_n AS DOUBLE)
                * CAST(s1_n AS DOUBLE) / CAST(n_n AS DOUBLE)))
            + (CAST(s2_r AS DOUBLE) - CAST(s1_r AS DOUBLE)
               * CAST(s1_r AS DOUBLE) / CAST(n_r AS DOUBLE)))
             AS ss_within,
           CAST(2 AS BIGINT) AS df_between,
           CAST(n - 3 AS BIGINT) AS df_within,
           ((((CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE)
                / CAST(n_a AS DOUBLE)
              + CAST(s1_n AS DOUBLE) * CAST(s1_n AS DOUBLE)
                / CAST(n_n AS DOUBLE))
             + CAST(s1_r AS DOUBLE) * CAST(s1_r AS DOUBLE)
               / CAST(n_r AS DOUBLE))
            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
            / 2.0)
           / (((CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE)
                  * CAST(s1_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                + (CAST(s2_n AS DOUBLE) - CAST(s1_n AS DOUBLE)
                   * CAST(s1_n AS DOUBLE) / CAST(n_n AS DOUBLE)))
               + (CAST(s2_r AS DOUBLE) - CAST(s1_r AS DOUBLE)
                  * CAST(s1_r AS DOUBLE) / CAST(n_r AS DOUBLE)))
              / (CAST(n AS DOUBLE) - 3.0)) AS f_stat
    FROM s
    """,
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for l_quantity across the A/N/R
    return-flag groups. l_quantity is integral (1..50), so the raw and
    squared moment sums are exact BIGINT in one map-side-combinable
    pass (q^2 <= 2500; the sums stay under 2^53 to ~3.6e12 rows, so
    every BIGINT->DOUBLE cast below is exact — do NOT switch the value
    to totalprice cents, whose second moment exceeds 2^53 at sf0.1 and
    hits the decimal->double ulp class). SSB/SSW/F are assembled from
    the k=3 per-group sums with the bounded-vocabulary unroll: one
    fixed-order addition chain ((t_A + t_N) + t_R) on both engine
    sides, because a float SUM over group rows is
    partition-order-dependent (the round-10 Kruskal-Wallis hazard)."""
    v = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("A", "N", "R"))
        .select(
            F.col("l_returnflag").alias("g"),
            F.round(F.col("l_quantity"), 0).cast("bigint").alias("q"),
        )
    )
    q = F.col("q")
    aggs = []
    for g in ("a", "n", "r"):
        gu = g.upper()
        aggs += [
            F.count(F.when(F.col("g") == gu, 1))
            .cast("bigint")
            .alias(f"n_{g}"),
            F.sum(F.when(F.col("g") == gu, q).otherwise(0))
            .cast("bigint")
            .alias(f"s1_{g}"),
            F.sum(F.when(F.col("g") == gu, q * q).otherwise(0))
            .cast("bigint")
            .alias(f"s2_{g}"),
        ]
    aggs += [
        F.count("*").cast("bigint").alias("n"),
        F.sum(q).cast("bigint").alias("s1"),
        F.sum(q * q).cast("bigint").alias("s2"),
    ]
    s = v.agg(*aggs)

    def d(name: str):
        return F.col(name).cast("double")

    def sb(g: str):
        return d(f"s1_{g}") * d(f"s1_{g}") / d(f"n_{g}")

    def sw(g: str):
        return d(f"s2_{g}") - d(f"s1_{g}") * d(f"s1_{g}") / d(f"n_{g}")

    ssb = ((sb("a") + sb("n")) + sb("r")) - d("s1") * d("s1") / d("n")
    ssw = (sw("a") + sw("n")) + sw("r")
    return s.select(
        "n",
        "n_a",
        "n_n",
        "n_r",
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        F.lit(2).cast("bigint").alias("df_between"),
        (F.col("n") - 3).cast("bigint").alias("df_within"),
        ((ssb / 2.0) / (ssw / (d("n") - 3.0))).alias("f_stat"),
    )


# Bounded vocabularies for the Cramér's V contingency unroll (TPC-H
# constants; the queries below also filter to exactly these values so a
# hypothetical extra category shows up as a row-count change, never as a
# silently mis-folded term).
_SEGMENTS = [
    "AUTOMOBILE",
    "BUILDING",
    "FURNITURE",
    "HOUSEHOLD",
    "MACHINERY",
]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# One fixed-order addition chain over the 25 (segment, region) cells in
# lexical order; SQL `+` and Python Column `+` are both left-associative,
# so a plain " + " join IS the chain ((q00 + q01) + q02)...
_CRAMER_FOLD_SQL = " + ".join(
    f"COALESCE(SUM(CASE WHEN seg = '{s}' AND reg = '{r}' "
    "THEN q END), 0.0)"
    for s in _SEGMENTS
    for r in _REGIONS
)


@_q(
    "agg_cramers_v",
    f"""
    WITH obs AS (
      SELECT c.c_mktsegment AS seg, rg.r_name AS reg,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region rg ON rg.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    ), rs AS (
      SELECT seg, CAST(SUM(o) AS BIGINT) AS rs FROM obs GROUP BY seg
    ), cs AS (
      SELECT reg, CAST(SUM(o) AS BIGINT) AS cs FROM obs GROUP BY reg
    ), tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    cells AS (
      SELECT obs.seg, obs.reg,
             (CAST(obs.o AS DOUBLE) * CAST(obs.o AS DOUBLE))
               / (CAST(rs.rs AS DOUBLE) * CAST(cs.cs AS DOUBLE)) AS q
      FROM obs JOIN rs ON rs.seg = obs.seg JOIN cs ON cs.reg = obs.reg
    ), folded AS (
      SELECT {_CRAMER_FOLD_SQL} AS qsum FROM cells
    )
    SELECT t.n,
           CAST(t.n AS DOUBLE) * f.qsum - CAST(t.n AS DOUBLE) AS chi_square,
           SQRT((CAST(t.n AS DOUBLE) * f.qsum - CAST(t.n AS DOUBLE))
                / (CAST(t.n AS DOUBLE) * 4.0)) AS cramers_v
    FROM folded f CROSS JOIN tot t
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength for the market-segment x region
    5x5 contingency table (customer joined through nation to region —
    both dims broadcast). Uses the margin identity
    chi^2 = N * sum_ij o_ij^2/(rs_i*cs_j) - N, so structural-zero cells
    contribute exactly 0 and never need LEFT-join synthesis; each cell
    term is a fixed IEEE chain on exact BIGINT counts, and the 25-term
    reduction is UNROLLED in (segment, region) lexical order into one
    fixed-order addition chain — the k-group float-sum rule
    (round-10 prototype hazard). V = sqrt(chi^2 / (N * min(r-1, c-1)))
    = sqrt(chi^2 / (4N)); sqrt is IEEE-correctly-rounded in both
    engines. Only the bounded 25-row cell table leaves the hash agg."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    obs = (
        cust.join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("r_name").alias("reg"),
        )
        .agg(F.count("*").cast("bigint").alias("o"))
    )
    rs = obs.groupBy("seg").agg(F.sum("o").cast("bigint").alias("rs"))
    cs = obs.groupBy("reg").agg(F.sum("o").cast("bigint").alias("cs"))
    tot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    cells = (
        obs.join(F.broadcast(rs), "seg")
        .join(F.broadcast(cs), "reg")
        .select(
            "seg",
            "reg",
            (
                (F.col("o").cast("double") * F.col("o").cast("double"))
                / (F.col("rs").cast("double") * F.col("cs").cast("double"))
            ).alias("q"),
        )
    )
    terms = [
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("seg") == s) & (F.col("reg") == r), F.col("q")
                )
            ),
            F.lit(0.0),
        )
        for s in _SEGMENTS
        for r in _REGIONS
    ]
    fold = terms[0]
    for t in terms[1:]:
        fold = fold + t
    folded = cells.agg(fold.alias("qsum"))
    nd = F.col("n").cast("double")
    chi2 = nd * F.col("qsum") - nd
    return folded.crossJoin(F.broadcast(tot)).select(
        "n",
        chi2.alias("chi_square"),
        F.sqrt(chi2 / (nd * 4.0)).alias("cramers_v"),
    )


@_q(
    "agg_cohens_d",
    """
    WITH v AS (
      SELECT c_mktsegment AS g,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ), s AS (
      SELECT CAST(COUNT(CASE WHEN g = 'BUILDING' THEN 1 END) AS BIGINT)
               AS n1,
             CAST(COUNT(CASE WHEN g = 'MACHINERY' THEN 1 END) AS BIGINT)
               AS n2,
             CAST(SUM(CASE WHEN g = 'BUILDING' THEN cents ELSE 0 END)
                  AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN g = 'MACHINERY' THEN cents ELSE 0 END)
                  AS BIGINT) AS t1,
             CAST(SUM(CASE WHEN g = 'BUILDING' THEN cents * cents
                           ELSE 0 END) AS BIGINT) AS s2,
             CAST(SUM(CASE WHEN g = 'MACHINERY' THEN cents * cents
                           ELSE 0 END) AS BIGINT) AS t2
      FROM v
    )
    SELECT n1, n2,
           CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0 AS mean_building,
           CAST(t1 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0 AS mean_machinery,
           (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(t1 AS DOUBLE) / CAST(n2 AS DOUBLE))
           / SQRT(((CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                      / CAST(n1 AS DOUBLE))
                   + (CAST(t2 AS DOUBLE)
                      - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE)
                        / CAST(n2 AS DOUBLE)))
                  / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))
             AS cohens_d
    FROM s
    """,
)
def agg_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d pooled-stddev effect size between the BUILDING and
    MACHINERY customer segments on account balance: per-group count /
    sum / sum-of-squares over exact BIGINT cents in ONE conditional
    aggregation pass, then a single scalar IEEE chain. The s1^2
    products go through DOUBLE before multiplying (s1 ~ 3e9 cents at
    sf0.1, squared 9e18 — silently WRAPS in non-ANSI BIGINT; the
    round-10 weighted-correlation lesson), and the two per-group
    sum-of-squares terms add in fixed order (t_building + t_machinery)
    per the k-group float rule. d is scale-invariant so the cents
    lattice cancels; the means are surfaced in dollars. Scale: cents^2
    second moments stay BIGINT-exact to ~9e5 rows/group at this balance
    domain — beyond that, route s2/t2 through DECIMAL(38,0)."""
    v = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.col("c_mktsegment").alias("g"),
            F.round(F.col("c_acctbal") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        )
    )
    cc = F.col("cents")
    s = v.agg(
        F.count(F.when(F.col("g") == "BUILDING", 1))
        .cast("bigint")
        .alias("n1"),
        F.count(F.when(F.col("g") == "MACHINERY", 1))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(F.col("g") == "BUILDING", cc).otherwise(0))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(F.col("g") == "MACHINERY", cc).otherwise(0))
        .cast("bigint")
        .alias("t1"),
        F.sum(F.when(F.col("g") == "BUILDING", cc * cc).otherwise(0))
        .cast("bigint")
        .alias("s2"),
        F.sum(F.when(F.col("g") == "MACHINERY", cc * cc).otherwise(0))
        .cast("bigint")
        .alias("t2"),
    )

    def d(name: str):
        return F.col(name).cast("double")

    ss1 = d("s2") - d("s1") * d("s1") / d("n1")
    ss2 = d("t2") - d("t1") * d("t1") / d("n2")
    pooled = (ss1 + ss2) / (d("n1") + d("n2") - 2.0)
    return s.select(
        "n1",
        "n2",
        (d("s1") / d("n1") / 100.0).alias("mean_building"),
        (d("t1") / d("n2") / 100.0).alias("mean_machinery"),
        (
            (d("s1") / d("n1") - d("t1") / d("n2")) / F.sqrt(pooled)
        ).alias("cohens_d"),
    )


@_q(
    "agg_mood_median_test",
    """
    WITH v AS (
      SELECT o_orderstatus AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')
    ), per AS (
      SELECT cents,
             CAST(COUNT(CASE WHEN g = 'F' THEN 1 END) AS BIGINT) AS a,
             CAST(COUNT(CASE WHEN g = 'O' THEN 1 END) AS BIGINT) AS b,
             CAST(COUNT(CASE WHEN g = 'P' THEN 1 END) AS BIGINT) AS p,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM v GROUP BY cents
    ), cum AS (
      SELECT cents, a, b, p,
             SUM(c) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
      FROM per
    ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM per),
    med AS (
      SELECT MIN(cents) AS median_cents
      FROM cum CROSS JOIN tot
      WHERE cumc >= (n + 1) // 2
    ), counts AS (
      SELECT CAST(SUM(CASE WHEN cents > m.median_cents THEN a
                           ELSE 0 END) AS BIGINT) AS f_above,
             CAST(SUM(CASE WHEN cents <= m.median_cents THEN a
                           ELSE 0 END) AS BIGINT) AS f_below,
             CAST(SUM(CASE WHEN cents > m.median_cents THEN b
                           ELSE 0 END) AS BIGINT) AS o_above,
             CAST(SUM(CASE WHEN cents <= m.median_cents THEN b
                           ELSE 0 END) AS BIGINT) AS o_below,
             CAST(SUM(CASE WHEN cents > m.median_cents THEN p
                           ELSE 0 END) AS BIGINT) AS p_above,
             CAST(SUM(CASE WHEN cents <= m.median_cents THEN p
                           ELSE 0 END) AS BIGINT) AS p_below,
             m.median_cents
      FROM per CROSS JOIN med m
      GROUP BY m.median_cents
    )
    SELECT c.median_cents, c.f_above, c.f_below, c.o_above, c.o_below,
           c.p_above, c.p_below,
           (((CAST(c.f_above AS DOUBLE)
               - CAST(c.f_above + c.f_below AS DOUBLE)
                 * CAST(c.f_above + c.o_above + c.p_above AS DOUBLE)
                 / CAST(t.n AS DOUBLE))
              * (CAST(c.f_above AS DOUBLE)
                 - CAST(c.f_above + c.f_below AS DOUBLE)
                   * CAST(c.f_above + c.o_above + c.p_above AS DOUBLE)
                   / CAST(t.n AS DOUBLE))
              / (CAST(c.f_above + c.f_below AS DOUBLE)
                 * CAST(c.f_above + c.o_above + c.p_above AS DOUBLE)
                 / CAST(t.n AS DOUBLE))
             + (CAST(c.o_above AS DOUBLE)
                - CAST(c.o_above + c.o_below AS DOUBLE)
                  * CAST(c.f_above + c.o_above + c.p_above AS DOUBLE)
                  / CAST(t.n AS DOUBLE))
               * (CAST(c.o_above AS DOUBLE)
                  - CAST(c.o_above + c.o_below AS DOUBLE)
                    * CAST(c.f_above + c.o_above + c.p_above AS DOUBLE)
                    / CAST(t.n AS DOUBLE))
               / (CAST(c.o_above + c.o_below AS DOUBLE)
                  * CAST(c.f_above + c.o_above + c.p_above AS DOUBLE)
                  / CAST(t.n AS DOUBLE)))
            + (CAST(c.p_above AS DOUBLE)
               - CAST(c.p_above + c.p_below AS DOUBLE)
                 * CAST(c.f_above + c.o_above + c.p_above AS DOUBLE)
                 / CAST(t.n AS DOUBLE))
              * (CAST(c.p_above AS DOUBLE)
                 - CAST(c.p_above + c.p_below AS DOUBLE)
                   * CAST(c.f_above + c.o_above + c.p_above AS DOUBLE)
                   / CAST(t.n AS DOUBLE))
              / (CAST(c.p_above + c.p_below AS DOUBLE)
                 * CAST(c.f_above + c.o_above + c.p_above AS DOUBLE)
                 / CAST(t.n AS DOUBLE)))
           + (((CAST(c.f_below AS DOUBLE)
                - CAST(c.f_above + c.f_below AS DOUBLE)
                  * CAST(c.f_below + c.o_below + c.p_below AS DOUBLE)
                  / CAST(t.n AS DOUBLE))
               * (CAST(c.f_below AS DOUBLE)
                  - CAST(c.f_above + c.f_below AS DOUBLE)
                    * CAST(c.f_below + c.o_below + c.p_below AS DOUBLE)
                    / CAST(t.n AS DOUBLE))
               / (CAST(c.f_above + c.f_below AS DOUBLE)
                  * CAST(c.f_below + c.o_below + c.p_below AS DOUBLE)
                  / CAST(t.n AS DOUBLE))
              + (CAST(c.o_below AS DOUBLE)
                 - CAST(c.o_above + c.o_below AS DOUBLE)
                   * CAST(c.f_below + c.o_below + c.p_below AS DOUBLE)
                   / CAST(t.n AS DOUBLE))
                * (CAST(c.o_below AS DOUBLE)
                   - CAST(c.o_above + c.o_below AS DOUBLE)
                     * CAST(c.f_below + c.o_below + c.p_below AS DOUBLE)
                     / CAST(t.n AS DOUBLE))
                / (CAST(c.o_above + c.o_below AS DOUBLE)
                   * CAST(c.f_below + c.o_below + c.p_below AS DOUBLE)
                   / CAST(t.n AS DOUBLE)))
             + (CAST(c.p_below AS DOUBLE)
                - CAST(c.p_above + c.p_below AS DOUBLE)
                  * CAST(c.f_below + c.o_below + c.p_below AS DOUBLE)
                  / CAST(t.n AS DOUBLE))
               * (CAST(c.p_below AS DOUBLE)
                  - CAST(c.p_above + c.p_below AS DOUBLE)
                    * CAST(c.f_below + c.o_below + c.p_below AS DOUBLE)
                    / CAST(t.n AS DOUBLE))
               / (CAST(c.p_above + c.p_below AS DOUBLE)
                  * CAST(c.f_below + c.o_below + c.p_below AS DOUBLE)
                  / CAST(t.n AS DOUBLE))) AS chi_square
    FROM counts c CROSS JOIN tot t
    """,
)
def agg_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the F/O/P order-status groups: count
    each group's values above vs at-or-below the GRAND median, then the
    2xk chi-square. The cut is pinned to the TYPE-1 (lower) median —
    the smallest value whose cumulative count reaches (N+1) div 2 on
    the distinct-value table — because engines' default median()
    INTERPOLATES on even counts and diverges; any consistent cut is
    statistically valid, so the interpolation-free one wins (the
    round-10 quantile-cut rule). The six cells are exact BIGINT from
    one conditional pass over the per-value table; the chi-square's six
    (O-E)^2/E terms are UNROLLED in fixed (above-row, then below-row;
    F,O,P within each) order per the k-group float-sum rule. Same
    scale shape as agg_mann_whitney_u: everything reduces through the
    price-domain-bounded distinct-cents table."""
    v = fop_cents(spark, sf_dir)
    per = v.groupBy("cents").agg(
        F.count(F.when(F.col("g") == "F", 1)).cast("bigint").alias("a"),
        F.count(F.when(F.col("g") == "O", 1)).cast("bigint").alias("b"),
        F.count(F.when(F.col("g") == "P", 1)).cast("bigint").alias("p"),
        F.count("*").cast("bigint").alias("c"),
    )
    per = materialize_reduced(per)
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per.select(
        "cents", F.sum("c").over(w).alias("cumc")
    )
    tot = per.agg(F.sum("c").cast("bigint").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cumc") >= F.expr("(n + 1) div 2"))
        .agg(F.min("cents").alias("median_cents"))
    )
    counts = (
        per.crossJoin(F.broadcast(med))
        .groupBy("median_cents")
        .agg(
            *[
                F.sum(
                    F.when(cond, F.col(col)).otherwise(0)
                )
                .cast("bigint")
                .alias(name)
                for col, gname in (("a", "f"), ("b", "o"), ("p", "p"))
                for cond, name in (
                    (
                        F.col("cents") > F.col("median_cents"),
                        f"{gname}_above",
                    ),
                    (
                        F.col("cents") <= F.col("median_cents"),
                        f"{gname}_below",
                    ),
                )
            ]
        )
    )
    j = counts.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")

    def cell(o_col: str, row_cols: list[str], col_cols: list[str]):
        od = F.col(o_col).cast("double")
        rowd = (
            F.col(col_cols[0]) + F.col(col_cols[1])
        ).cast("double")  # group margin (above+below for the group)
        cold = (
            (F.col(row_cols[0]) + F.col(row_cols[1])) + F.col(row_cols[2])
        ).cast("double")  # row margin (above or below, across groups)
        e = rowd * cold / nd
        return (od - e) * (od - e) / e

    above = ["f_above", "o_above", "p_above"]
    below = ["f_below", "o_below", "p_below"]
    chi2 = (
        (
            cell("f_above", above, ["f_above", "f_below"])
            + cell("o_above", above, ["o_above", "o_below"])
        )
        + cell("p_above", above, ["p_above", "p_below"])
    ) + (
        (
            cell("f_below", below, ["f_above", "f_below"])
            + cell("o_below", below, ["o_above", "o_below"])
        )
        + cell("p_below", below, ["p_above", "p_below"])
    )
    return j.select(
        "median_cents",
        "f_above",
        "f_below",
        "o_above",
        "o_below",
        "p_above",
        "p_below",
        chi2.alias("chi_square"),
    )


@_q(
    "agg_wilcoxon_signed_rank",
    """
    WITH yearly AS (
      SELECT o_custkey AS custkey,
             CAST(SUM(CASE WHEN YEAR(o_orderdate) = 1995
                           THEN CAST(round(o_totalprice * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS c95,
             CAST(SUM(CASE WHEN YEAR(o_orderdate) = 1996
                           THEN CAST(round(o_totalprice * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS c96,
             COUNT(CASE WHEN YEAR(o_orderdate) = 1995 THEN 1 END) AS k95,
             COUNT(CASE WHEN YEAR(o_orderdate) = 1996 THEN 1 END) AS k96
      FROM orders
      WHERE YEAR(o_orderdate) IN (1995, 1996)
      GROUP BY o_custkey
    ), diffs AS (
      SELECT c96 - c95 AS diff, ABS(c96 - c95) AS ad
      FROM yearly WHERE k95 > 0 AND k96 > 0 AND c96 <> c95
    ), per AS (
      SELECT ad,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(COUNT(CASE WHEN diff > 0 THEN 1 END) AS BIGINT) AS pos
      FROM diffs GROUP BY ad
    ), cum AS (
      SELECT c, pos,
             2 * COALESCE(SUM(c) OVER (ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS dr
      FROM per
    ), s AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(pos * dr) AS BIGINT) AS t2_plus,
             CAST(SUM(c * c * c - c) AS BIGINT) AS tie_term
      FROM cum
    )
    SELECT n, t2_plus, tie_term,
           CAST(t2_plus AS DOUBLE) / 2.0 AS t_plus,
           (CAST(t2_plus AS DOUBLE) / 2.0
            - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
           / SQRT((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                   * (2.0 * CAST(n AS DOUBLE) + 1.0)
                   - CAST(tie_term AS DOUBLE) / 2.0) / 24.0) AS z_stat
    FROM s
    """,
)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test over paired per-customer yearly revenue
    (1995 vs 1996 order cents; customers with orders in BOTH years, zero
    diffs dropped per the classic procedure). Same no-global-sort shape
    as the Mann-Whitney/Kruskal entries: midranks of |diff| come from
    the per-value table (one hash agg + one cumulative window over
    distinct |diff| values); doubled midranks dr = 2*cum_before + c + 1
    keep T+ BIGINT-exact (t2_plus = 2*T+). The tie-corrected normal
    approximation sigma^2 = [n(n+1)(2n+1) - tie/2] / 24 and the z
    statistic are ONE scalar IEEE chain with a single sqrt — scalars
    only, so the k-group float-sum hazard doesn't arise. Year
    extraction is on the NTZ order date under the session UTC pin."""
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    yr = F.year("o_orderdate")
    yearly = (
        load_table(spark, sf_dir, "orders")
        .filter(yr.isin(1995, 1996))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(F.when(yr == 1995, cents).otherwise(0))
            .cast("bigint")
            .alias("c95"),
            F.sum(F.when(yr == 1996, cents).otherwise(0))
            .cast("bigint")
            .alias("c96"),
            F.count(F.when(yr == 1995, 1)).alias("k95"),
            F.count(F.when(yr == 1996, 1)).alias("k96"),
        )
    )
    diffs = yearly.filter(
        (F.col("k95") > 0)
        & (F.col("k96") > 0)
        & (F.col("c96") != F.col("c95"))
    ).select(
        (F.col("c96") - F.col("c95")).alias("diff"),
        F.abs(F.col("c96") - F.col("c95")).alias("ad"),
    )
    per = diffs.groupBy("ad").agg(
        F.count("*").cast("bigint").alias("c"),
        F.count(F.when(F.col("diff") > 0, 1)).cast("bigint").alias("pos"),
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.select(
        "c",
        "pos",
        (
            2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1
        ).alias("dr"),
    )
    c = F.col("c")
    s = cum.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("pos") * F.col("dr")).cast("bigint").alias("t2_plus"),
        F.sum(c * c * c - c).cast("bigint").alias("tie_term"),
    )
    nd = F.col("n").cast("double")
    t_plus = F.col("t2_plus").cast("double") / 2.0
    sigma = F.sqrt(
        (
            nd * (nd + 1.0) * (2.0 * nd + 1.0)
            - F.col("tie_term").cast("double") / 2.0
        )
        / 24.0
    )
    return s.select(
        "n",
        "t2_plus",
        "tie_term",
        t_plus.alias("t_plus"),
        ((t_plus - nd * (nd + 1.0) / 4.0) / sigma).alias("z_stat"),
    )


@_q(
    "agg_weighted_correlation",
    """
    WITH v AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS w,
             CAST(round(l_extendedprice) AS BIGINT) AS x,
             CAST(round(l_extendedprice * (1.0 - l_discount)) AS BIGINT)
               AS y
      FROM lineitem
    ), tot AS (
      SELECT CAST(SUM(w) AS BIGINT) AS sw,
             CAST(SUM(w * x) AS BIGINT) // CAST(SUM(w) AS BIGINT) AS mux,
             CAST(SUM(w * y) AS BIGINT) // CAST(SUM(w) AS BIGINT) AS muy
      FROM v
    ), cen AS (
      SELECT t.sw,
             CAST(SUM(w * (x - t.mux)) AS BIGINT) AS sdx,
             CAST(SUM(w * (y - t.muy)) AS BIGINT) AS sdy,
             CAST(SUM(w * (x - t.mux) * (x - t.mux)) AS BIGINT) AS sxx,
             CAST(SUM(w * (y - t.muy) * (y - t.muy)) AS BIGINT) AS syy,
             CAST(SUM(w * (x - t.mux) * (y - t.muy)) AS BIGINT) AS sxy,
             t.mux, t.muy
      FROM v CROSS JOIN tot t
      GROUP BY t.sw, t.mux, t.muy
    )
    SELECT sw,
           CAST(mux AS DOUBLE) + CAST(sdx AS DOUBLE) / CAST(sw AS DOUBLE)
             AS wmean_price,
           CAST(muy AS DOUBLE) + CAST(sdy AS DOUBLE) / CAST(sw AS DOUBLE)
             AS wmean_revenue,
           (CAST(sw AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sdx AS DOUBLE) * CAST(sdy AS DOUBLE))
           / (SQRT(CAST(sw AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sdx AS DOUBLE) * CAST(sdx AS DOUBLE))
              * SQRT(CAST(sw AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sdy AS DOUBLE) * CAST(sdy AS DOUBLE)))
             AS weighted_corr
    FROM cen
    """,
)
def agg_weighted_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted Pearson correlation between extended price and
    discounted revenue — the weighted-covariance companion to the graded
    agg_corr_exact. The round-10-validated range budget, in order:
    (a) values snap to integer DOLLARS (cents^2-scale weighted moments
    overflow BIGINT); (b) the raw integer quantity is the weight;
    (c) integer FLOOR weighted means mu = swx div sw join back in-plan
    via a broadcast 1-row crossJoin, making the centered second moments
    sum_w w*dx*dy exact BIGINT (~7.5e16 at sf0.1 — comfortable);
    (d) the shift-invariant covariance identity sw*Sxy - Sdx*Sdy
    converts EACH BIGINT to DOUBLE BEFORE multiplying, because the
    products overflow int64 and non-ANSI Spark WRAPS silently; (e) one
    sqrt per stddev. Floor-mean centering is exact, not approximate —
    shift invariance of covariance absorbs the integer remainder, and
    the exact weighted means are recovered as mu + Sd/sw for output."""
    v = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity"), 0).cast("bigint").alias("w"),
        F.round(F.col("l_extendedprice"), 0).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * (1.0 - F.col("l_discount")), 0)
        .cast("bigint")
        .alias("y"),
    )
    tot = v.agg(
        F.sum("w").cast("bigint").alias("sw"),
        F.expr("cast(sum(w * x) as bigint) div cast(sum(w) as bigint)")
        .alias("mux"),
        F.expr("cast(sum(w * y) as bigint) div cast(sum(w) as bigint)")
        .alias("muy"),
    )
    dx = F.col("x") - F.col("mux")
    dy = F.col("y") - F.col("muy")
    cen = (
        v.crossJoin(F.broadcast(tot))
        .groupBy("sw", "mux", "muy")
        .agg(
            F.sum(F.col("w") * dx).cast("bigint").alias("sdx"),
            F.sum(F.col("w") * dy).cast("bigint").alias("sdy"),
            F.sum(F.col("w") * dx * dx).cast("bigint").alias("sxx"),
            F.sum(F.col("w") * dy * dy).cast("bigint").alias("syy"),
            F.sum(F.col("w") * dx * dy).cast("bigint").alias("sxy"),
        )
    )

    def d(name: str):
        return F.col(name).cast("double")

    return cen.select(
        "sw",
        (d("mux") + d("sdx") / d("sw")).alias("wmean_price"),
        (d("muy") + d("sdy") / d("sw")).alias("wmean_revenue"),
        (
            (d("sw") * d("sxy") - d("sdx") * d("sdy"))
            / (
                F.sqrt(d("sw") * d("sxx") - d("sdx") * d("sdx"))
                * F.sqrt(d("sw") * d("syy") - d("sdy") * d("sdy"))
            )
        ).alias("weighted_corr"),
    )


@_q(
    "agg_qq_deciles",
    """
    WITH v AS (
      SELECT o_orderstatus AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), per AS (
      SELECT cents,
             CAST(COUNT(CASE WHEN g = 'F' THEN 1 END) AS BIGINT) AS a,
             CAST(COUNT(CASE WHEN g = 'O' THEN 1 END) AS BIGINT) AS b
      FROM v GROUP BY cents
    ), cum AS (
      SELECT cents,
             SUM(a) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             SUM(b) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
      FROM per
    ), tot AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n_f, CAST(SUM(b) AS BIGINT) AS n_o
      FROM per
    ), spine AS (
      SELECT CAST(x AS BIGINT) AS decile FROM generate_series(1, 9) t(x)
    ), fcut AS (
      SELECT s.decile, CAST(MIN(c.cents) AS BIGINT) AS f_cents
      FROM spine s CROSS JOIN tot t
      JOIN cum c ON c.ca >= (s.decile * t.n_f + 9) // 10
      GROUP BY s.decile
    ), ocut AS (
      SELECT s.decile, CAST(MIN(c.cents) AS BIGINT) AS o_cents
      FROM spine s CROSS JOIN tot t
      JOIN cum c ON c.cb >= (s.decile * t.n_o + 9) // 10
      GROUP BY s.decile
    )
    SELECT f.decile, f.f_cents, o.o_cents,
           CAST(o.o_cents AS DOUBLE) / CAST(f.f_cents AS DOUBLE)
             AS qq_ratio
    FROM fcut f JOIN ocut o ON o.decile = f.decile
    """,
)
def agg_qq_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Q-Q table at the nine decile cuts between the F and O
    order-value populations — the distribution-comparison report that
    pairs with the KS statistic (KS gives one number; the Q-Q table
    shows WHERE the distributions diverge). Each cut is pinned to the
    TYPE-1 (lower) quantile — the ceil(q*n/10)-th order statistic,
    found as the smallest distinct value whose cumulative count reaches
    (q*n + 9) div 10 — never the engines' interpolating default
    quantile (the round-10 cut rule). One hash agg to the
    price-domain-bounded distinct-value table, one cumulative window,
    then a 9-row broadcast spine joined on the cumulative threshold;
    everything stays on the exact integer lattice except the final
    per-decile ratio division."""
    per = fo_cents_counts(spark, sf_dir)
    per = materialize_reduced(per)
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "cents",
        F.sum("a").over(w).alias("ca"),
        F.sum("b").over(w).alias("cb"),
    )
    tot = per.agg(
        F.sum("a").cast("bigint").alias("n_f"),
        F.sum("b").cast("bigint").alias("n_o"),
    )
    spine = spark.range(1, 10).select(F.col("id").alias("decile"))
    thresholds = spine.crossJoin(F.broadcast(tot))
    fcut = (
        cum.crossJoin(F.broadcast(thresholds))
        .filter(F.col("ca") >= F.expr("(decile * n_f + 9) div 10"))
        .groupBy("decile")
        .agg(F.min("cents").cast("bigint").alias("f_cents"))
    )
    ocut = (
        cum.crossJoin(F.broadcast(thresholds))
        .filter(F.col("cb") >= F.expr("(decile * n_o + 9) div 10"))
        .groupBy("decile")
        .agg(F.min("cents").cast("bigint").alias("o_cents"))
    )
    return fcut.join(ocut, "decile").select(
        "decile",
        "f_cents",
        "o_cents",
        (
            F.col("o_cents").cast("double") / F.col("f_cents").cast("double")
        ).alias("qq_ratio"),
    )


# --- round 12: ordered/paired/robust inference wave -----------------------


@_q(
    "agg_jonckheere_terpstra",
    """
    WITH v AS (
      SELECT o_orderstatus AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')
    ), per AS (
      SELECT cents,
             CAST(COUNT(CASE WHEN g = 'F' THEN 1 END) AS BIGINT) AS f,
             CAST(COUNT(CASE WHEN g = 'P' THEN 1 END) AS BIGINT) AS p,
             CAST(COUNT(CASE WHEN g = 'O' THEN 1 END) AS BIGINT) AS o
      FROM v GROUP BY cents
    ), cum AS (
      SELECT f, p, o,
             COALESCE(SUM(f) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cf,
             COALESCE(SUM(p) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp
      FROM per
    ), s AS (
      SELECT CAST(SUM(f) AS BIGINT) AS n_f,
             CAST(SUM(p) AS BIGINT) AS n_p,
             CAST(SUM(o) AS BIGINT) AS n_o,
             CAST(SUM(f) + SUM(p) + SUM(o) AS BIGINT) AS n,
             CAST(SUM((p + o) * (2 * cf + f) + o * (2 * cp + p))
                  AS BIGINT) AS jt_x2
      FROM cum
    )
    SELECT n, n_f, n_p, n_o, jt_x2,
           (n * n - ((n_f * n_f + n_p * n_p) + n_o * n_o)) // 2 AS e_x2,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        * (2.0 * CAST(n AS DOUBLE) + 3.0)
                      - ((CAST(n_f AS DOUBLE) * CAST(n_f AS DOUBLE)
                            * (2.0 * CAST(n_f AS DOUBLE) + 3.0)
                          + CAST(n_p AS DOUBLE) * CAST(n_p AS DOUBLE)
                            * (2.0 * CAST(n_p AS DOUBLE) + 3.0))
                         + CAST(n_o AS DOUBLE) * CAST(n_o AS DOUBLE)
                           * (2.0 * CAST(n_o AS DOUBLE) + 3.0))) / 72.0 > 0.0
           THEN (CAST(jt_x2 AS DOUBLE)
                 - CAST((n * n - ((n_f * n_f + n_p * n_p) + n_o * n_o)) // 2
                        AS DOUBLE))
                / (2.0 * SQRT((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                                 * (2.0 * CAST(n AS DOUBLE) + 3.0)
                               - ((CAST(n_f AS DOUBLE) * CAST(n_f AS DOUBLE)
                                     * (2.0 * CAST(n_f AS DOUBLE) + 3.0)
                                   + CAST(n_p AS DOUBLE) * CAST(n_p AS DOUBLE)
                                     * (2.0 * CAST(n_p AS DOUBLE) + 3.0))
                                  + CAST(n_o AS DOUBLE) * CAST(n_o AS DOUBLE)
                                    * (2.0 * CAST(n_o AS DOUBLE) + 3.0)))
                              / 72.0))
           END AS z
    FROM s
    """,
)
def agg_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative k-sample test over the
    hypothesized F < P < O order-status ordering on order value. JT is
    the sum of the three pairwise Mann-Whitney U's taken in order
    ((F,P), (F,O), (P,O)); everything reduces through the same
    price-domain-bounded per-value table as agg_kruskal_wallis — one
    hash agg on cents, one cumulative window — and the doubled-units
    trick (jt_x2 = 2*JT = sum over values of opposing-mass-below*2 +
    tie counts) keeps the tie credit integer, so jt_x2 is BIGINT-exact.
    z uses the tie-UNCORRECTED JT variance [N^2(2N+3) -
    sum n_i^2(2n_i+3)]/72 (tie correction documented out of scope) with
    the k-group reduction UNROLLED in fixed (F, P, O) order per the
    round-11 float-chain rule, NULL-guarded for a degenerate zero
    variance. Scale: jt_x2 <= N^2 holds to ~3e9 rows in BIGINT; the
    variance chain is pure double arithmetic on 4 scalars."""
    v = fop_cents(spark, sf_dir)
    per = v.groupBy("cents").agg(
        F.count(F.when(F.col("g") == "F", 1)).cast("bigint").alias("f"),
        F.count(F.when(F.col("g") == "P", 1)).cast("bigint").alias("p"),
        F.count(F.when(F.col("g") == "O", 1)).cast("bigint").alias("o"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.select(
        "f",
        "p",
        "o",
        F.coalesce(F.sum("f").over(w), F.lit(0)).alias("cf"),
        F.coalesce(F.sum("p").over(w), F.lit(0)).alias("cp"),
    )
    s = cum.agg(
        F.sum("f").cast("bigint").alias("n_f"),
        F.sum("p").cast("bigint").alias("n_p"),
        F.sum("o").cast("bigint").alias("n_o"),
        (F.sum("f") + F.sum("p") + F.sum("o")).cast("bigint").alias("n"),
        F.sum(
            (F.col("p") + F.col("o")) * (2 * F.col("cf") + F.col("f"))
            + F.col("o") * (2 * F.col("cp") + F.col("p"))
        )
        .cast("bigint")
        .alias("jt_x2"),
    )
    nd = F.col("n").cast("double")

    def vterm(col: str):
        d = F.col(col).cast("double")
        return d * d * (2.0 * d + 3.0)

    var = (
        nd * nd * (2.0 * nd + 3.0)
        - ((vterm("n_f") + vterm("n_p")) + vterm("n_o"))
    ) / 72.0
    e_x2 = F.expr(
        "(n * n - ((n_f * n_f + n_p * n_p) + n_o * n_o)) div 2"
    )
    return s.select(
        "n",
        "n_f",
        "n_p",
        "n_o",
        "jt_x2",
        e_x2.alias("e_x2"),
        F.when(
            var > 0.0,
            (F.col("jt_x2").cast("double") - e_x2.cast("double"))
            / (2.0 * F.sqrt(var)),
        ).alias("z"),
    )


@_q(
    "agg_friedman_test",
    """
    WITH cell AS (
      SELECT o_orderpriority AS blk, o_orderstatus AS trt,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS s,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')
      GROUP BY 1, 2
    ), full_blk AS (
      SELECT blk FROM cell GROUP BY blk HAVING COUNT(*) = 3
    ), ranked AS (
      SELECT a.blk, a.trt,
             2 + 2 * CAST(SUM(CASE WHEN b.s * a.cnt < a.s * b.cnt
                                   THEN 1 ELSE 0 END) AS BIGINT)
               + CAST(SUM(CASE WHEN b.trt <> a.trt
                                    AND b.s * a.cnt = a.s * b.cnt
                               THEN 1 ELSE 0 END) AS BIGINT) AS r2
      FROM cell a
      JOIN cell b ON a.blk = b.blk
      JOIN full_blk fb ON fb.blk = a.blk
      GROUP BY a.blk, a.trt
    ), rsum AS (
      SELECT CAST(COUNT(DISTINCT blk) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN trt = 'F' THEN r2 END) AS BIGINT) AS r2_f,
             CAST(SUM(CASE WHEN trt = 'O' THEN r2 END) AS BIGINT) AS r2_o,
             CAST(SUM(CASE WHEN trt = 'P' THEN r2 END) AS BIGINT) AS r2_p
      FROM ranked
    )
    SELECT b, r2_f, r2_o, r2_p,
           CASE WHEN b > 0 THEN
             CAST(r2_f * r2_f + r2_o * r2_o + r2_p * r2_p AS DOUBLE)
             / (4.0 * CAST(b AS DOUBLE)) - 12.0 * CAST(b AS DOUBLE)
           END AS chi2_f
    FROM rsum
    """,
)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman within-block rank test: blocks = the 5 order-priority
    levels, treatments = the F/O/P statuses, cell value = the mean
    order value. Ranks of the k=3 treatment means within each block
    come from PAIRWISE comparisons of exact DECIMAL-free integer
    cross-products (mean_a < mean_b <=> s_a*cnt_b < s_b*cnt_a with
    positive counts) — 15 bounded cells, no windowed rank, no ordering
    hazard, and doubled ranks r2 = 2 + 2*#below + #ties keep midrank
    tie credit integer. chi2_F = 12/(b k(k+1)) sum R_j^2 - 3 b(k+1)
    collapses (k=3, doubled ranks) to sum(R2_j^2)/(4b) - 12b — integer
    until ONE division, NULL-guarded for b=0; blocks missing a
    treatment are excluded (Friedman requires complete blocks). Scale:
    the cell cross-product s*cnt needs s*cnt < 2^63 — holds to ~1e5x
    the sf0.1 per-cell mass; route through DECIMAL(38,0) beyond."""
    cell = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O", "P"))
        .groupBy(
            F.col("o_orderpriority").alias("blk"),
            F.col("o_orderstatus").alias("trt"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("s"),
            F.count("*").cast("bigint").alias("cnt"),
        )
    )
    cell = materialize_reduced(cell)
    full_blk = (
        cell.groupBy("blk")
        .count()
        .filter(F.col("count") == 3)
        .select(F.col("blk").alias("fblk"))
    )
    a = cell.alias("a")
    b = cell.alias("b")
    ranked = (
        a.join(b, F.col("a.blk") == F.col("b.blk"))
        .join(full_blk, F.col("a.blk") == F.col("fblk"))
        .groupBy(F.col("a.blk").alias("blk"), F.col("a.trt").alias("trt"))
        .agg(
            (
                2
                + 2
                * F.sum(
                    F.when(
                        F.col("b.s") * F.col("a.cnt")
                        < F.col("a.s") * F.col("b.cnt"),
                        1,
                    ).otherwise(0)
                )
                + F.sum(
                    F.when(
                        (F.col("b.trt") != F.col("a.trt"))
                        & (
                            F.col("b.s") * F.col("a.cnt")
                            == F.col("a.s") * F.col("b.cnt")
                        ),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("r2")
        )
    )
    rsum = ranked.agg(
        F.countDistinct("blk").cast("bigint").alias("b"),
        F.sum(F.when(F.col("trt") == "F", F.col("r2")))
        .cast("bigint")
        .alias("r2_f"),
        F.sum(F.when(F.col("trt") == "O", F.col("r2")))
        .cast("bigint")
        .alias("r2_o"),
        F.sum(F.when(F.col("trt") == "P", F.col("r2")))
        .cast("bigint")
        .alias("r2_p"),
    )
    bd = F.col("b").cast("double")
    ssum = (
        F.col("r2_f") * F.col("r2_f")
        + F.col("r2_o") * F.col("r2_o")
        + F.col("r2_p") * F.col("r2_p")
    ).cast("double")
    return rsum.select(
        "b",
        "r2_f",
        "r2_o",
        "r2_p",
        F.when(F.col("b") > 0, ssum / (4.0 * bd) - 12.0 * bd).alias("chi2_f"),
    )


@_q(
    "agg_kendall_tau",
    """
    WITH v AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
               // 120000 AS band
      FROM lineitem
    ), cells AS (
      SELECT q, band, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v GROUP BY q, band
    ), pairs AS (
      SELECT CAST(SUM(CASE WHEN a.band < b.band
                           THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT) AS conc,
             CAST(SUM(CASE WHEN a.band > b.band
                           THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT) AS disc
      FROM cells a JOIN cells b ON a.q < b.q
    ), qt AS (
      SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS ties_q
      FROM (SELECT SUM(cnt) AS t FROM cells GROUP BY q)
    ), bt AS (
      SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS ties_band
      FROM (SELECT SUM(cnt) AS t FROM cells GROUP BY band)
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cells
    )
    SELECT n, conc, disc, ties_q, ties_band,
           CASE WHEN n * (n - 1) // 2 > ties_q
                 AND n * (n - 1) // 2 > ties_band
           THEN (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
                / SQRT(CAST(n * (n - 1) // 2 - ties_q AS DOUBLE)
                       * CAST(n * (n - 1) // 2 - ties_band AS DOUBLE))
           END AS tau_b
    FROM pairs CROSS JOIN qt CROSS JOIN bt CROSS JOIN tot
    """,
)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between line quantity and discounted price via the
    bounded 2-D value-lattice identity: rows collapse onto (quantity,
    price-band) cells (quantity has 50 values, band = discounted cents
    div 120000 keeps ~100 bands), and concordant/discordant pair counts
    are exact BIGINT sums of cell-count cross products over the strict
    q-ordering half of the lattice self-join (~5k x 5k cell pairs at
    any corpus size — the lattice, not the data, bounds the join).
    Tie denominators from per-q / per-band marginal counts; tau_b's
    single float chain (C - D)/sqrt((n0-n1)(n0-n2)) runs on doubles
    cast per factor (the products overflow BIGINT), NULL-guarded for
    all-tied degenerate inputs. Scale: n0 = n(n-1)/2 < 2^63 holds to
    ~4e9 rows; beyond that the marginals route through DECIMAL(38,0)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.expr(
            "CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)"
            " AS BIGINT) div 120000"
        ).alias("band"),
    )
    cells = li.groupBy("q", "band").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    cells = materialize_reduced(cells)
    a = cells.alias("a")
    b = cells.alias("b")
    pairs = a.join(b, F.col("a.q") < F.col("b.q")).agg(
        F.sum(
            F.when(
                F.col("a.band") < F.col("b.band"),
                F.col("a.cnt") * F.col("b.cnt"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("conc"),
        F.sum(
            F.when(
                F.col("a.band") > F.col("b.band"),
                F.col("a.cnt") * F.col("b.cnt"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("disc"),
    )
    qt = (
        cells.groupBy("q")
        .agg(F.sum("cnt").alias("t"))
        .agg(
            F.sum(F.expr("t * (t - 1) div 2")).cast("bigint").alias("ties_q")
        )
    )
    bt = (
        cells.groupBy("band")
        .agg(F.sum("cnt").alias("t"))
        .agg(
            F.sum(F.expr("t * (t - 1) div 2"))
            .cast("bigint")
            .alias("ties_band")
        )
    )
    tot = cells.agg(F.sum("cnt").cast("bigint").alias("n"))
    j = (
        pairs.crossJoin(F.broadcast(qt))
        .crossJoin(F.broadcast(bt))
        .crossJoin(F.broadcast(tot))
    )
    n0 = F.expr("n * (n - 1) div 2")
    return j.select(
        "n",
        "conc",
        "disc",
        "ties_q",
        "ties_band",
        F.when(
            (n0 > F.col("ties_q")) & (n0 > F.col("ties_band")),
            (F.col("conc").cast("double") - F.col("disc").cast("double"))
            / F.sqrt(
                (n0 - F.col("ties_q")).cast("double")
                * (n0 - F.col("ties_band")).cast("double")
            ),
        ).alias("tau_b"),
    )


@_q(
    "agg_brown_forsythe",
    """
    WITH v AS (
      SELECT o_orderstatus AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')
    ), per AS (
      SELECT cents,
             CAST(COUNT(CASE WHEN g = 'F' THEN 1 END) AS BIGINT) AS a,
             CAST(COUNT(CASE WHEN g = 'O' THEN 1 END) AS BIGINT) AS b,
             CAST(COUNT(CASE WHEN g = 'P' THEN 1 END) AS BIGINT) AS p
      FROM v GROUP BY cents
    ), cum AS (
      SELECT cents, a, b, p,
             SUM(a) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             SUM(b) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
             SUM(p) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
      FROM per
    ), tot AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n_f,
             CAST(SUM(b) AS BIGINT) AS n_o,
             CAST(SUM(p) AS BIGINT) AS n_p
      FROM per
    ), med AS (
      SELECT MIN(CASE WHEN ca >= (n_f + 1) // 2 THEN cents END) AS med_f,
             MIN(CASE WHEN cb >= (n_o + 1) // 2 THEN cents END) AS med_o,
             MIN(CASE WHEN cp >= (n_p + 1) // 2 THEN cents END) AS med_p
      FROM cum CROSS JOIN tot
    ), dev AS (
      SELECT CAST(SUM(a * abs(cents - med_f)) AS BIGINT) AS s_f,
             CAST(SUM(b * abs(cents - med_o)) AS BIGINT) AS s_o,
             CAST(SUM(p * abs(cents - med_p)) AS BIGINT) AS s_p,
             CAST(SUM(CAST(a * (cents - med_f) * (cents - med_f)
                           AS DECIMAL(38,0))) AS DOUBLE) AS q_f,
             CAST(SUM(CAST(b * (cents - med_o) * (cents - med_o)
                           AS DECIMAL(38,0))) AS DOUBLE) AS q_o,
             CAST(SUM(CAST(p * (cents - med_p) * (cents - med_p)
                           AS DECIMAL(38,0))) AS DOUBLE) AS q_p,
             MIN(med_f) AS med_f, MIN(med_o) AS med_o, MIN(med_p) AS med_p
      FROM per CROSS JOIN med
    )
    SELECT t.n_f, t.n_o, t.n_p, d.med_f, d.med_o, d.med_p,
           CASE WHEN t.n_f + t.n_o + t.n_p > 3
                 AND ((d.q_f + d.q_o) + d.q_p)
                     - ((CAST(d.s_f AS DOUBLE) * CAST(d.s_f AS DOUBLE)
                           / CAST(t.n_f AS DOUBLE)
                         + CAST(d.s_o AS DOUBLE) * CAST(d.s_o AS DOUBLE)
                           / CAST(t.n_o AS DOUBLE))
                        + CAST(d.s_p AS DOUBLE) * CAST(d.s_p AS DOUBLE)
                          / CAST(t.n_p AS DOUBLE)) > 0.0
           THEN (((CAST(d.s_f AS DOUBLE) * CAST(d.s_f AS DOUBLE)
                     / CAST(t.n_f AS DOUBLE)
                   + CAST(d.s_o AS DOUBLE) * CAST(d.s_o AS DOUBLE)
                     / CAST(t.n_o AS DOUBLE))
                  + CAST(d.s_p AS DOUBLE) * CAST(d.s_p AS DOUBLE)
                    / CAST(t.n_p AS DOUBLE)
                  - (CAST(d.s_f AS DOUBLE) + CAST(d.s_o AS DOUBLE)
                     + CAST(d.s_p AS DOUBLE))
                    * (CAST(d.s_f AS DOUBLE) + CAST(d.s_o AS DOUBLE)
                       + CAST(d.s_p AS DOUBLE))
                    / CAST(t.n_f + t.n_o + t.n_p AS DOUBLE)) / 2.0)
                / ((((d.q_f + d.q_o) + d.q_p)
                    - ((CAST(d.s_f AS DOUBLE) * CAST(d.s_f AS DOUBLE)
                          / CAST(t.n_f AS DOUBLE)
                        + CAST(d.s_o AS DOUBLE) * CAST(d.s_o AS DOUBLE)
                          / CAST(t.n_o AS DOUBLE))
                       + CAST(d.s_p AS DOUBLE) * CAST(d.s_p AS DOUBLE)
                         / CAST(t.n_p AS DOUBLE)))
                   / CAST(t.n_f + t.n_o + t.n_p - 3 AS DOUBLE))
           END AS f_stat
    FROM dev d CROSS JOIN tot t
    """,
)
def agg_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe robust ANOVA: one-way F on the absolute deviations
    |x - group median| across the F/O/P order-status groups (the
    median-centered Levene variant — strictly more robust than the
    mean-centered one, and integer-friendly: deviations are exact cents
    BIGINTs once each group's cut is pinned to the TYPE-1 lower median,
    reusing agg_mood_median_test's interpolation-free per-group cut
    machinery — three cuts from ONE windowed pass over the shared
    per-value table). Exact pieces: per-group deviation sums S_g
    (BIGINT) and squared-deviation sums Q_g (DECIMAL(38,0) — cents^2
    second moments overflow int64 at sf0.1, the round-11 lattice
    lesson); the F chain SSB/(k-1) / (SSW/(N-k)) is one fixed-order
    double reduction over those 6 scalars, NULL-guarded for SSW=0 and
    N<=k. Scale: everything reduces through the price-domain-bounded
    distinct-cents table; no data-row sort or shuffle beyond one hash
    agg."""
    v = fop_cents(spark, sf_dir)
    per = v.groupBy("cents").agg(
        F.count(F.when(F.col("g") == "F", 1)).cast("bigint").alias("a"),
        F.count(F.when(F.col("g") == "O", 1)).cast("bigint").alias("b"),
        F.count(F.when(F.col("g") == "P", 1)).cast("bigint").alias("p"),
    )
    per = materialize_reduced(per)
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "cents",
        F.sum("a").over(w).alias("ca"),
        F.sum("b").over(w).alias("cb"),
        F.sum("p").over(w).alias("cp"),
    )
    tot = per.agg(
        F.sum("a").cast("bigint").alias("n_f"),
        F.sum("b").cast("bigint").alias("n_o"),
        F.sum("p").cast("bigint").alias("n_p"),
    )
    med = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(
            F.when(F.col("ca") >= F.expr("(n_f + 1) div 2"), F.col("cents"))
        ).alias("med_f"),
        F.min(
            F.when(F.col("cb") >= F.expr("(n_o + 1) div 2"), F.col("cents"))
        ).alias("med_o"),
        F.min(
            F.when(F.col("cp") >= F.expr("(n_p + 1) div 2"), F.col("cents"))
        ).alias("med_p"),
    )

    def zq(cnt: str, medcol: str):
        z = F.abs(F.col("cents") - F.col(medcol))
        return (
            F.sum(F.col(cnt) * z).cast("bigint"),
            F.sum((F.col(cnt) * z * z).cast("decimal(38,0)")).cast("double"),
        )

    sf_, qf_ = zq("a", "med_f")
    so_, qo_ = zq("b", "med_o")
    sp_, qp_ = zq("p", "med_p")
    dev = per.crossJoin(F.broadcast(med)).agg(
        sf_.alias("s_f"),
        so_.alias("s_o"),
        sp_.alias("s_p"),
        qf_.alias("q_f"),
        qo_.alias("q_o"),
        qp_.alias("q_p"),
        F.min("med_f").alias("med_f"),
        F.min("med_o").alias("med_o"),
        F.min("med_p").alias("med_p"),
    )
    j = dev.crossJoin(F.broadcast(tot))

    def d(c: str):
        return F.col(c).cast("double")

    within_means = (
        d("s_f") * d("s_f") / d("n_f") + d("s_o") * d("s_o") / d("n_o")
    ) + d("s_p") * d("s_p") / d("n_p")
    n_all = F.col("n_f") + F.col("n_o") + F.col("n_p")
    s_all = d("s_f") + d("s_o") + d("s_p")
    ssb = within_means - s_all * s_all / n_all.cast("double")
    ssw = ((F.col("q_f") + F.col("q_o")) + F.col("q_p")) - within_means
    return j.select(
        "n_f",
        "n_o",
        "n_p",
        "med_f",
        "med_o",
        "med_p",
        F.when(
            (n_all > 3) & (ssw > 0.0),
            (ssb / 2.0) / (ssw / (n_all - 3).cast("double")),
        ).alias("f_stat"),
    )


@_q(
    "agg_mcnemar_paired",
    """
    WITH act AS (
      SELECT o_custkey AS ck,
             MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1995
                      THEN 1 ELSE 0 END) AS a95,
             MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996
                      THEN 1 ELSE 0 END) AS a96
      FROM orders GROUP BY 1
    ), j AS (
      SELECT COALESCE(a.a95, 0) AS a95, COALESCE(a.a96, 0) AS a96
      FROM customer c LEFT JOIN act a ON a.ck = c.c_custkey
    ), cells AS (
      SELECT CAST(SUM(CASE WHEN a95 = 1 AND a96 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n11,
             CAST(SUM(CASE WHEN a95 = 1 AND a96 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN a95 = 0 AND a96 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN a95 = 0 AND a96 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n00
      FROM j
    )
    SELECT n11, n10, n01, n00,
           CASE WHEN n10 + n01 > 0 THEN
             CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
             / CAST(n10 + n01 AS DOUBLE)
           END AS mcnemar_chi2
    FROM cells
    """,
)
def agg_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test on the customer panel: each customer is one
    paired binary observation (active = placed >= 1 order) for 1995 vs
    1996, the base population is the full customer dim (a LEFT join
    keeps never-active customers in cell n00), and the statistic
    (b - c)^2 / (b + c) depends only on the two discordant cells —
    exact BIGINT counts, ONE division, NULL-guarded for b + c = 0 (the
    round-11 ANSI-totality rule). Scale: one groupBy over orders to a
    per-customer flag pair, one broadcast-or-shuffle join against the
    dim, one global conditional count — no window, no sort."""
    act = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.max(
                F.when(F.year("o_orderdate") == 1995, 1).otherwise(0)
            ).alias("a95"),
            F.max(
                F.when(F.year("o_orderdate") == 1996, 1).otherwise(0)
            ).alias("a96"),
        )
    )
    j = (
        load_table(spark, sf_dir, "customer")
        .join(act, F.col("ck") == F.col("c_custkey"), "left")
        .select(
            F.coalesce(F.col("a95"), F.lit(0)).alias("a95"),
            F.coalesce(F.col("a96"), F.lit(0)).alias("a96"),
        )
    )
    cells = j.agg(
        F.sum(F.when((F.col("a95") == 1) & (F.col("a96") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n11"),
        F.sum(F.when((F.col("a95") == 1) & (F.col("a96") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n10"),
        F.sum(F.when((F.col("a95") == 0) & (F.col("a96") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n01"),
        F.sum(F.when((F.col("a95") == 0) & (F.col("a96") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n00"),
    )
    diff = F.col("n10") - F.col("n01")
    return cells.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.when(
            F.col("n10") + F.col("n01") > 0,
            (diff * diff).cast("double")
            / (F.col("n10") + F.col("n01")).cast("double"),
        ).alias("mcnemar_chi2"),
    )


@_q(
    "agg_theil_sen_banded",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), lags AS (
      SELECT d1.day, d1.cents AS c1, d2.cents AS c2,
             CAST(d2.day - d1.day AS BIGINT) AS lag
      FROM daily d1 JOIN daily d2
        ON d2.day - d1.day BETWEEN 1 AND 30
    ), slopes AS (
      SELECT (CASE WHEN c2 - c1 < 0 THEN -1 ELSE 1 END)
             * ((abs(c2 - c1) * 10000) // lag) AS slope_fp
      FROM lags
    ), per AS (
      SELECT slope_fp, CAST(COUNT(*) AS BIGINT) AS c
      FROM slopes GROUP BY slope_fp
    ), cum AS (
      SELECT slope_fp,
             SUM(c) OVER (ORDER BY slope_fp
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
      FROM per
    ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_pairs FROM per)
    SELECT t.n_pairs,
           m.median_slope_fp,
           CAST(m.median_slope_fp AS DOUBLE) / 10000.0
             AS slope_cents_per_day
    FROM tot t CROSS JOIN (
      SELECT MIN(slope_fp) AS median_slope_fp
      FROM cum CROSS JOIN tot
      WHERE cumc >= (n_pairs + 1) // 2
    ) m
    """,
)
def agg_theil_sen_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Theil-Sen trend estimator over the daily-revenue series:
    the median pairwise slope restricted to lag-1..30 day pairs (the
    bounded panel keeps pair count at 30*|days| instead of |days|^2 —
    the scale path for long series). Slopes live on an exact integer
    lattice: slope_fp = sign * (|cents_j - cents_i| * 10000 div lag),
    i.e. cents/day quantized at 1e-4 (documented quantization; the
    sign-split keeps integer division TRUNCATION semantics identical
    across engines — Spark's div truncates toward zero while DuckDB's
    // floors, which diverge on negative numerators). TYPE-1 median
    via per-value counts + one cumulative window over the bounded
    distinct-slope table — no global sort of the pair set. The pair
    generation is an equi-join on day arithmetic (Spark side explodes
    a 30-element lag spine and joins on date_add), shuffle bounded by
    the |days| table."""
    daily = daily_cents(spark, sf_dir)
    daily = materialize_reduced(daily)
    left = daily.select(
        "day",
        F.col("cents").alias("c1"),
        F.explode(F.sequence(F.lit(1), F.lit(30))).alias("lag"),
    )
    right = daily.select(
        F.col("day").alias("day2"), F.col("cents").alias("c2")
    )
    lags = left.join(
        right, F.expr("date_add(day, lag)") == F.col("day2")
    ).select(
        F.col("c1"),
        F.col("c2"),
        F.col("lag").cast("bigint").alias("lag"),
    )
    slopes = lags.select(
        (
            F.when(F.col("c2") - F.col("c1") < 0, -1)
            .otherwise(1)
            * F.expr("(abs(c2 - c1) * 10000) div lag")
        ).alias("slope_fp")
    )
    per = slopes.groupBy("slope_fp").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = Window.orderBy("slope_fp").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select("slope_fp", F.sum("c").over(w).alias("cumc"))
    tot = per.agg(F.sum("c").cast("bigint").alias("n_pairs"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cumc") >= F.expr("(n_pairs + 1) div 2"))
        .agg(F.min("slope_fp").alias("median_slope_fp"))
    )
    return tot.crossJoin(F.broadcast(med)).select(
        "n_pairs",
        "median_slope_fp",
        (F.col("median_slope_fp").cast("double") / 10000.0).alias(
            "slope_cents_per_day"
        ),
    )


@_q(
    "agg_gini_mean_difference",
    """
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), per AS (
      SELECT cents, CAST(COUNT(*) AS BIGINT) AS c
      FROM v GROUP BY cents
    ), cum AS (
      SELECT cents, c,
             2 * COALESCE(SUM(c) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS dr
      FROM per
    ), s AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(cents * c * dr) AS BIGINT) AS xcdr,
             CAST(SUM(cents * c) AS BIGINT) AS w
      FROM cum
    )
    SELECT n,
           xcdr - (n + 1) * w AS sum_absdiff,
           CASE WHEN n >= 2 THEN
             2.0 * CAST(xcdr - (n + 1) * w AS DOUBLE)
             / CAST(n * (n - 1) AS DOUBLE)
           END AS gmd_cents,
           CASE WHEN n >= 2 THEN
             2.0 * CAST(xcdr - (n + 1) * w AS DOUBLE)
             / CAST(n * (n - 1) AS DOUBLE) / 100.0
           END AS gmd_dollars
    FROM s
    """,
)
def agg_gini_mean_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini mean difference (mean |x_i - x_j| over all pairs) of order
    value via the sorted-rank identity sum((2r - n - 1) x_r) — no pair
    join, no global data sort: the doubled-midrank machinery
    (dr = 2*cum_before + c + 1, shared with agg_kruskal_wallis) makes
    sum_absdiff = sum(x*c*dr) - (n+1)*sum(x*c) BIGINT-exact even under
    ties, because tied values share x so any within-block rank
    assignment yields the same total. The dispersion-sibling of the
    graded Gini concentration entry (which normalizes by the mean; this
    one reports the raw pairwise spread). One division, NULL-guarded
    for n < 2. Scale: sum(x*c*dr) ~ n^2 * mean(x) overflows BIGINT
    near ~2e9 order rows at this price domain — route through
    DECIMAL(38,0) beyond (documented lattice budget)."""
    per = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents")
        )
        .groupBy("cents")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.select(
        "cents",
        "c",
        (
            2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1
        ).alias("dr"),
    )
    s = cum.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("cents") * F.col("c") * F.col("dr"))
        .cast("bigint")
        .alias("xcdr"),
        F.sum(F.col("cents") * F.col("c")).cast("bigint").alias("w"),
    )
    t = F.col("xcdr") - (F.col("n") + 1) * F.col("w")
    gmd = 2.0 * t.cast("double") / (
        F.col("n") * (F.col("n") - 1)
    ).cast("double")
    return s.select(
        "n",
        t.alias("sum_absdiff"),
        F.when(F.col("n") >= 2, gmd).alias("gmd_cents"),
        F.when(F.col("n") >= 2, gmd / 100.0).alias("gmd_dollars"),
    )


@_q(
    "agg_two_sample_median_ci",
    """
    WITH v AS (
      SELECT o_orderstatus AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), per AS (
      SELECT cents,
             CAST(COUNT(CASE WHEN g = 'F' THEN 1 END) AS BIGINT) AS a,
             CAST(COUNT(CASE WHEN g = 'O' THEN 1 END) AS BIGINT) AS b
      FROM v GROUP BY cents
    ), cum AS (
      SELECT cents,
             SUM(a) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             SUM(b) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
      FROM per
    ), tot AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n_f,
             CAST(SUM(b) AS BIGINT) AS n_o,
             GREATEST(1, CAST(FLOOR(CAST(SUM(a) AS DOUBLE) / 2.0
               - 1.96 * SQRT(CAST(SUM(a) AS DOUBLE)) / 2.0) AS BIGINT))
               AS lo_rank_f,
             LEAST(CAST(SUM(a) AS BIGINT),
               CAST(CEIL(CAST(SUM(a) AS DOUBLE) / 2.0 + 1.0
               + 1.96 * SQRT(CAST(SUM(a) AS DOUBLE)) / 2.0) AS BIGINT))
               AS hi_rank_f,
             (CAST(SUM(a) AS BIGINT) + 1) // 2 AS med_rank_f,
             GREATEST(1, CAST(FLOOR(CAST(SUM(b) AS DOUBLE) / 2.0
               - 1.96 * SQRT(CAST(SUM(b) AS DOUBLE)) / 2.0) AS BIGINT))
               AS lo_rank_o,
             LEAST(CAST(SUM(b) AS BIGINT),
               CAST(CEIL(CAST(SUM(b) AS DOUBLE) / 2.0 + 1.0
               + 1.96 * SQRT(CAST(SUM(b) AS DOUBLE)) / 2.0) AS BIGINT))
               AS hi_rank_o,
             (CAST(SUM(b) AS BIGINT) + 1) // 2 AS med_rank_o
      FROM per
    ), vals AS (
      SELECT MIN(CASE WHEN ca >= med_rank_f THEN cents END) AS med_f,
             MIN(CASE WHEN ca >= lo_rank_f THEN cents END) AS lo_f,
             MIN(CASE WHEN ca >= hi_rank_f THEN cents END) AS hi_f,
             MIN(CASE WHEN cb >= med_rank_o THEN cents END) AS med_o,
             MIN(CASE WHEN cb >= lo_rank_o THEN cents END) AS lo_o,
             MIN(CASE WHEN cb >= hi_rank_o THEN cents END) AS hi_o
      FROM cum CROSS JOIN tot
    )
    SELECT t.n_f, t.n_o, v.med_f, v.lo_f, v.hi_f, v.med_o, v.lo_o, v.hi_o,
           v.med_f - v.med_o AS med_diff,
           v.lo_f - v.hi_o AS diff_lo,
           v.hi_f - v.lo_o AS diff_hi
    FROM vals v CROSS JOIN tot t
    """,
)
def agg_two_sample_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-statistic confidence bands for the F-vs-O median difference
    of order value: each group's 95% median CI comes from the binomial
    normal-rank approximation (lo/hi order-statistic ranks n/2 -+
    1.96*sqrt(n)/2, sqrt-only — no float CDF), realized as exact rank
    lookups on the shared per-value cumulative table (the TYPE-1 cut
    machinery — no interpolation, no global data sort); the reported
    difference band [lo_f - hi_o, hi_f - lo_o] is the conservative
    interval combination. Rank arithmetic is one identical IEEE
    floor/ceil/sqrt chain per group on exact BIGINT counts, clamped to
    [1, n]; on empty groups every lookup is NULL (total, no division
    anywhere). Scale: bounded by the distinct-cents table like every
    rank entry in this family."""
    per = fo_cents_counts(spark, sf_dir)
    per = materialize_reduced(per)
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "cents",
        F.sum("a").over(w).alias("ca"),
        F.sum("b").over(w).alias("cb"),
    )

    def ranks(sum_col, suffix):
        nd = sum_col.cast("double")
        margin = 1.96 * F.sqrt(nd) / 2.0
        return [
            F.greatest(
                F.lit(1).cast("bigint"),
                F.floor(nd / 2.0 - margin).cast("bigint"),
            ).alias(f"lo_rank_{suffix}"),
            F.least(
                sum_col.cast("bigint"),
                F.ceil(nd / 2.0 + 1.0 + margin).cast("bigint"),
            ).alias(f"hi_rank_{suffix}"),
        ]

    tot = per.agg(
        F.sum("a").cast("bigint").alias("n_f"),
        F.sum("b").cast("bigint").alias("n_o"),
        *ranks(F.sum("a"), "f"),
        *ranks(F.sum("b"), "o"),
    ).select(
        "*",
        F.expr("(n_f + 1) div 2").alias("med_rank_f"),
        F.expr("(n_o + 1) div 2").alias("med_rank_o"),
    )
    vals = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(
            F.when(F.col("ca") >= F.col("med_rank_f"), F.col("cents"))
        ).alias("med_f"),
        F.min(
            F.when(F.col("ca") >= F.col("lo_rank_f"), F.col("cents"))
        ).alias("lo_f"),
        F.min(
            F.when(F.col("ca") >= F.col("hi_rank_f"), F.col("cents"))
        ).alias("hi_f"),
        F.min(
            F.when(F.col("cb") >= F.col("med_rank_o"), F.col("cents"))
        ).alias("med_o"),
        F.min(
            F.when(F.col("cb") >= F.col("lo_rank_o"), F.col("cents"))
        ).alias("lo_o"),
        F.min(
            F.when(F.col("cb") >= F.col("hi_rank_o"), F.col("cents"))
        ).alias("hi_o"),
    )
    return vals.crossJoin(F.broadcast(tot.select("n_f", "n_o"))).select(
        "n_f",
        "n_o",
        "med_f",
        "lo_f",
        "hi_f",
        "med_o",
        "lo_o",
        "hi_o",
        (F.col("med_f") - F.col("med_o")).alias("med_diff"),
        (F.col("lo_f") - F.col("hi_o")).alias("diff_lo"),
        (F.col("hi_f") - F.col("lo_o")).alias("diff_hi"),
    )


# --- round 13 (pre-built in round 12): matched-binary and ordinal tests ----


@_q(
    "agg_cochran_q",
    """
    WITH act AS (
      SELECT o_custkey AS ck,
             MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1995
                      THEN 1 ELSE 0 END) AS a95,
             MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996
                      THEN 1 ELSE 0 END) AS a96,
             MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1997
                      THEN 1 ELSE 0 END) AS a97
      FROM orders GROUP BY 1
    ), j AS (
      SELECT COALESCE(a.a95, 0) AS a95, COALESCE(a.a96, 0) AS a96,
             COALESCE(a.a97, 0) AS a97
      FROM customer c LEFT JOIN act a ON a.ck = c.c_custkey
    ), s AS (
      SELECT CAST(SUM(a95) AS BIGINT) AS c95,
             CAST(SUM(a96) AS BIGINT) AS c96,
             CAST(SUM(a97) AS BIGINT) AS c97,
             CAST(SUM(a95 + a96 + a97) AS BIGINT) AS t,
             CAST(SUM((a95 + a96 + a97) * (a95 + a96 + a97)) AS BIGINT)
               AS sr2,
             CAST(COUNT(*) AS BIGINT) AS n_subjects
      FROM j
    )
    SELECT n_subjects, c95, c96, c97, t, sr2,
           CASE WHEN 3 * t - sr2 > 0 THEN
             CAST(2 * (3 * (c95 * c95 + c96 * c96 + c97 * c97) - t * t)
                  AS DOUBLE) / CAST(3 * t - sr2 AS DOUBLE)
           END AS cochran_q
    FROM s
    """,
)
def agg_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over k=3 matched binary treatments: each customer is
    one matched triple (active in 1995 / 1996 / 1997 — the McNemar
    machinery extended a year), testing whether the activity rate
    differs across the three years. Uses the integer-friendly identity
    Q = (k-1)(k * sum C_j^2 - T^2)/(k*T - sum R_i^2), verified equal to
    the textbook mean-centered form on 500 random panels during the
    round-12 prototype — numerator and denominator exact BIGINT from
    ONE conditional-MAX groupBy + the dim LEFT join (never-active
    customers contribute zero to every term but stay in n_subjects),
    ONE division, NULL-guarded degenerate denominator (all-concordant
    panels). Scale: one orders shuffle to per-customer flags, one join,
    one global reduction."""
    act = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            *[
                F.max(
                    F.when(F.year("o_orderdate") == y, 1).otherwise(0)
                ).alias(f"a{str(y)[2:]}")
                for y in (1995, 1996, 1997)
            ]
        )
    )
    j = (
        load_table(spark, sf_dir, "customer")
        .join(act, F.col("ck") == F.col("c_custkey"), "left")
        .select(
            *[
                F.coalesce(F.col(f"a{y}"), F.lit(0)).alias(f"a{y}")
                for y in ("95", "96", "97")
            ]
        )
    )
    r = F.col("a95") + F.col("a96") + F.col("a97")
    s = j.agg(
        F.sum("a95").cast("bigint").alias("c95"),
        F.sum("a96").cast("bigint").alias("c96"),
        F.sum("a97").cast("bigint").alias("c97"),
        F.sum(r).cast("bigint").alias("t"),
        F.sum(r * r).cast("bigint").alias("sr2"),
        F.count("*").cast("bigint").alias("n_subjects"),
    )
    den = 3 * F.col("t") - F.col("sr2")
    num = 2 * (
        3
        * (
            F.col("c95") * F.col("c95")
            + F.col("c96") * F.col("c96")
            + F.col("c97") * F.col("c97")
        )
        - F.col("t") * F.col("t")
    )
    return s.select(
        "n_subjects",
        "c95",
        "c96",
        "c97",
        "t",
        "sr2",
        F.when(den > 0, num.cast("double") / den.cast("double")).alias(
            "cochran_q"
        ),
    )


@_q(
    "agg_page_trend_test",
    """
    WITH cell AS (
      SELECT o_orderpriority AS blk, o_orderstatus AS trt,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS s,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')
      GROUP BY 1, 2
    ), full_blk AS (
      SELECT blk FROM cell GROUP BY blk HAVING COUNT(*) = 3
    ), ranked AS (
      SELECT a.blk, a.trt,
             2 + 2 * CAST(SUM(CASE WHEN b.s * a.cnt < a.s * b.cnt
                                   THEN 1 ELSE 0 END) AS BIGINT)
               + CAST(SUM(CASE WHEN b.trt <> a.trt
                                    AND b.s * a.cnt = a.s * b.cnt
                               THEN 1 ELSE 0 END) AS BIGINT) AS r2
      FROM cell a
      JOIN cell b ON a.blk = b.blk
      JOIN full_blk fb ON fb.blk = a.blk
      GROUP BY a.blk, a.trt
    ), rsum AS (
      SELECT CAST(COUNT(DISTINCT blk) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN trt = 'F' THEN r2 END) AS BIGINT) AS r2_f,
             CAST(SUM(CASE WHEN trt = 'O' THEN r2 END) AS BIGINT) AS r2_o,
             CAST(SUM(CASE WHEN trt = 'P' THEN r2 END) AS BIGINT) AS r2_p
      FROM ranked
    )
    SELECT b, r2_f, r2_o, r2_p,
           CAST(1 * r2_f + 2 * r2_o + 3 * r2_p AS BIGINT) AS l_x2,
           CASE WHEN b > 0 THEN
             CAST(1 * r2_f + 2 * r2_o + 3 * r2_p - 24 * b AS DOUBLE)
             / (2.0 * SQRT(2.0 * CAST(b AS DOUBLE)))
           END AS page_z
    FROM rsum
    """,
)
def agg_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's trend test for the ordered alternative F < O < P across
    the priority blocks — the ordered upgrade of agg_friedman_test,
    sharing its cross-multiplied integer rank machinery verbatim (so
    the two entries can never disagree on a rank): L = sum_j j * R_j,
    kept doubled (l_x2 = sum j * R2_j) so midrank tie credit stays
    integer. For k=3: mu_L = 12b and Var_L = 2b (both verified against
    exhaustive permutation moments in the round-12 prototype), giving
    z = (l_x2 - 24b) / (2 sqrt(2b)) — exact integers up to one sqrt
    chain, NULL-guarded for b = 0. Same bounded 15-cell reduction as
    Friedman."""
    cell = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O", "P"))
        .groupBy(
            F.col("o_orderpriority").alias("blk"),
            F.col("o_orderstatus").alias("trt"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("s"),
            F.count("*").cast("bigint").alias("cnt"),
        )
    )
    cell = materialize_reduced(cell)
    full_blk = (
        cell.groupBy("blk")
        .count()
        .filter(F.col("count") == 3)
        .select(F.col("blk").alias("fblk"))
    )
    a = cell.alias("a")
    b = cell.alias("b")
    ranked = (
        a.join(b, F.col("a.blk") == F.col("b.blk"))
        .join(full_blk, F.col("a.blk") == F.col("fblk"))
        .groupBy(F.col("a.blk").alias("blk"), F.col("a.trt").alias("trt"))
        .agg(
            (
                2
                + 2
                * F.sum(
                    F.when(
                        F.col("b.s") * F.col("a.cnt")
                        < F.col("a.s") * F.col("b.cnt"),
                        1,
                    ).otherwise(0)
                )
                + F.sum(
                    F.when(
                        (F.col("b.trt") != F.col("a.trt"))
                        & (
                            F.col("b.s") * F.col("a.cnt")
                            == F.col("a.s") * F.col("b.cnt")
                        ),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("r2")
        )
    )
    rsum = ranked.agg(
        F.countDistinct("blk").cast("bigint").alias("b"),
        F.sum(F.when(F.col("trt") == "F", F.col("r2")))
        .cast("bigint")
        .alias("r2_f"),
        F.sum(F.when(F.col("trt") == "O", F.col("r2")))
        .cast("bigint")
        .alias("r2_o"),
        F.sum(F.when(F.col("trt") == "P", F.col("r2")))
        .cast("bigint")
        .alias("r2_p"),
    )
    l_x2 = (
        1 * F.col("r2_f") + 2 * F.col("r2_o") + 3 * F.col("r2_p")
    ).cast("bigint")
    bd = F.col("b").cast("double")
    return rsum.select(
        "b",
        "r2_f",
        "r2_o",
        "r2_p",
        l_x2.alias("l_x2"),
        F.when(
            F.col("b") > 0,
            (l_x2 - 24 * F.col("b")).cast("double")
            / (2.0 * F.sqrt(2.0 * bd)),
        ).alias("page_z"),
    )


@_q(
    "agg_cliffs_delta",
    """
    WITH v AS (
      SELECT o_orderstatus AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), per AS (
      SELECT cents,
             CAST(COUNT(CASE WHEN g = 'F' THEN 1 END) AS BIGINT) AS a,
             CAST(COUNT(CASE WHEN g = 'O' THEN 1 END) AS BIGINT) AS b
      FROM v GROUP BY cents
    ), cum AS (
      SELECT a, b,
             COALESCE(SUM(b) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM per
    ), s AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n_f,
             CAST(SUM(b) AS BIGINT) AS n_o,
             CAST(SUM(a * cb) AS BIGINT) AS gt,
             CAST(SUM(a * b) AS BIGINT) AS ties
      FROM cum
    )
    SELECT n_f, n_o, gt,
           n_f * n_o - gt - ties AS lt,
           ties,
           CASE WHEN n_f > 0 AND n_o > 0 THEN
             CAST(gt - (n_f * n_o - gt - ties) AS DOUBLE)
             / CAST(n_f * n_o AS DOUBLE)
           END AS cliffs_delta
    FROM s
    """,
)
def agg_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size between the F and O order-value
    populations: (#(x>y) - #(x<y)) / (n_f * n_o) — the magnitude
    companion to the graded Mann-Whitney U, on the SAME per-value
    cumulative machinery (greater-mass = sum a_v * cum_O_below(v),
    less-mass by complement, tie count = sum a*b per value — no pair
    join anywhere). Exact BIGINT counts (n_f*n_o < 2^63 holds to ~3e9
    rows/side), ONE division, NULL-guarded empty sides. Scale: the
    distinct-cents table bounds everything."""
    per = fo_cents_counts(spark, sf_dir)
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.select(
        "a",
        "b",
        F.coalesce(F.sum("b").over(w), F.lit(0)).alias("cb"),
    )
    s = cum.agg(
        F.sum("a").cast("bigint").alias("n_f"),
        F.sum("b").cast("bigint").alias("n_o"),
        F.sum(F.col("a") * F.col("cb")).cast("bigint").alias("gt"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("ties"),
    )
    lt = F.col("n_f") * F.col("n_o") - F.col("gt") - F.col("ties")
    return s.select(
        "n_f",
        "n_o",
        "gt",
        lt.alias("lt"),
        "ties",
        F.when(
            (F.col("n_f") > 0) & (F.col("n_o") > 0),
            (F.col("gt") - lt).cast("double")
            / (F.col("n_f") * F.col("n_o")).cast("double"),
        ).alias("cliffs_delta"),
    )


@_q(
    "agg_sign_test",
    """
    WITH yearly AS (
      SELECT o_custkey AS ck,
             CAST(SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = 1995
                  THEN CAST(round(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS s95,
             CAST(SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996
                  THEN CAST(round(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS s96,
             MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1995
                 THEN 1 ELSE 0 END) AS h95,
             MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996
                 THEN 1 ELSE 0 END) AS h96
      FROM orders GROUP BY 1
    ), paired AS (
      SELECT s96 - s95 AS d FROM yearly WHERE h95 = 1 AND h96 = 1
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(COUNT(CASE WHEN d > 0 THEN 1 END) AS BIGINT) AS n_plus,
             CAST(COUNT(CASE WHEN d < 0 THEN 1 END) AS BIGINT) AS n_minus,
             CAST(COUNT(CASE WHEN d = 0 THEN 1 END) AS BIGINT) AS n_zero
      FROM paired
    )
    SELECT n_pairs, n_plus, n_minus, n_zero,
           CASE WHEN n_plus + n_minus > 0 THEN
             CAST(n_plus - n_minus AS DOUBLE)
             / SQRT(CAST(n_plus + n_minus AS DOUBLE))
           END AS sign_z
    FROM s
    """,
)
def agg_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test on per-customer spend, 1995 vs 1996: did
    customers active in BOTH years spend more in the second? Pairs are
    customers with orders in both years (the standard paired design;
    one-year customers are not pairs), differences are exact cents,
    ties are dropped from the statistic and REPORTED (n_zero), and
    z = (n+ - n-)/sqrt(n+ + n-) is the normal approximation — sqrt
    only, NULL-guarded when every pair ties. One orders shuffle to
    per-customer year sums, one global conditional count."""
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    yearly = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(F.when(F.year("o_orderdate") == 1995, cents).otherwise(0))
            .cast("bigint")
            .alias("s95"),
            F.sum(F.when(F.year("o_orderdate") == 1996, cents).otherwise(0))
            .cast("bigint")
            .alias("s96"),
            F.max(
                F.when(F.year("o_orderdate") == 1995, 1).otherwise(0)
            ).alias("h95"),
            F.max(
                F.when(F.year("o_orderdate") == 1996, 1).otherwise(0)
            ).alias("h96"),
        )
    )
    paired = yearly.filter(
        (F.col("h95") == 1) & (F.col("h96") == 1)
    ).select((F.col("s96") - F.col("s95")).alias("d"))
    s = paired.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.count(F.when(F.col("d") > 0, 1)).cast("bigint").alias("n_plus"),
        F.count(F.when(F.col("d") < 0, 1)).cast("bigint").alias("n_minus"),
        F.count(F.when(F.col("d") == 0, 1)).cast("bigint").alias("n_zero"),
    )
    nz = F.col("n_plus") + F.col("n_minus")
    return s.select(
        "n_pairs",
        "n_plus",
        "n_minus",
        "n_zero",
        F.when(
            nz > 0,
            (F.col("n_plus") - F.col("n_minus")).cast("double")
            / F.sqrt(nz.cast("double")),
        ).alias("sign_z"),
    )


# --- round 13: location shift, serial correlation, composed correlation ----


@_q(
    "agg_hodges_lehmann_banded",
    """
    WITH vf AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS fc,
             CAST(COUNT(*) AS BIGINT) AS a
      FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
    ), vo AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS oc,
             CAST(COUNT(*) AS BIGINT) AS b
      FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
    ), nb AS (
      SELECT GREATEST(1, CAST(COUNT(*) AS BIGINT) // 8) AS nbuck FROM vo
    ), vfb AS (
      SELECT fc, a,
             ('0x' || substr(md5(CAST(fc AS VARCHAR)), 1, 15))::BIGINT
             % (SELECT nbuck FROM nb) AS bkt
      FROM vf
    ), vob AS (
      SELECT oc, b,
             ('0x' || substr(md5(CAST(oc AS VARCHAR)), 1, 15))::BIGINT
             % (SELECT nbuck FROM nb) AS bkt
      FROM vo
    ), pairs AS (
      SELECT f.fc - o.oc AS d, f.a * o.b AS wgt,
             ROW_NUMBER() OVER (
               PARTITION BY f.fc
               ORDER BY md5(CAST(f.fc AS VARCHAR) || '|'
                            || CAST(o.oc AS VARCHAR)), o.oc
             ) AS pk
      FROM vfb f JOIN vob o ON o.bkt = f.bkt
    ), panel AS (
      SELECT d, CAST(SUM(wgt) AS BIGINT) AS w
      FROM pairs WHERE pk <= 8 GROUP BY d
    ), cum AS (
      SELECT d, w,
             SUM(w) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      FROM panel
    ), tot AS (
      SELECT CAST(SUM(w) AS BIGINT) AS t,
             (CAST(SUM(w) AS BIGINT) + 1) // 2 AS med_rank
      FROM panel
    )
    SELECT t AS n_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM vf) AS n_f_vals,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM vo) AS n_o_vals,
           (SELECT MIN(CASE WHEN cw >= tot.med_rank THEN d END)
            FROM cum) AS hl_shift_cents
    FROM tot
    """,
)
def agg_hodges_lehmann_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann location-shift estimate between the F and O
    order-value populations, on a BOUNDED hash-banded pair panel: the
    full HL statistic is the median of all n_f*n_o pairwise
    differences, which is quadratic; this entry restricts each
    distinct F value to the <= 8 distinct O values that share its
    md5-derived hash bucket (nbuck = |vo|/8 buckets, so the expected
    bucket load is 8, hard-capped by a per-F row_number over the
    in-bucket md5 order) — a documented DETERMINISTIC panel
    restriction, not a uniform subsample: the estimate is the weighted
    TYPE-1 median (count-weighted by a*b multiplicities) of the panel
    differences. Exact integer weights and cumulative ranks; no
    division anywhere. Scale: everything is bounded by the
    distinct-cents tables and the 8-per-value cap (the ROADMAP_r13 #4
    panel design)."""
    from .helpers import phash60

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    vf = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select(cents.alias("fc"))
        .groupBy("fc")
        .agg(F.count("*").cast("bigint").alias("a"))
    )
    vo = (
        orders.filter(F.col("o_orderstatus") == "O")
        .select(cents.alias("oc"))
        .groupBy("oc")
        .agg(F.count("*").cast("bigint").alias("b"))
    )
    vo = materialize_reduced(vo)
    vf = materialize_reduced(vf)
    # Localize the bucket count (bounded 1-row fetch): leaving nbuck as a
    # joined column makes the bucket condition a non-equi predicate and
    # Catalyst falls back to a nested-loop join (measured 38 s at sf0.01,
    # unbounded at sf0.1); as a literal the bucket is a computed COLUMN on
    # each side and the join is a plain hash equi-join on it.
    nbuck = max(1, vo.count() // 8)
    pairs = (
        vf.withColumn(
            "bkt", phash60(F.col("fc").cast("string")) % F.lit(nbuck)
        )
        .join(
            vo.withColumn(
                "bkt", phash60(F.col("oc").cast("string")) % F.lit(nbuck)
            ),
            "bkt",
        )
        .select(
            "fc",
            "oc",
            (F.col("fc") - F.col("oc")).alias("d"),
            (F.col("a") * F.col("b")).alias("wgt"),
        )
        .withColumn(
            "pk",
            F.row_number().over(
                Window.partitionBy("fc").orderBy(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col("fc").cast("string"),
                            F.col("oc").cast("string"),
                        )
                    ),
                    "oc",
                )
            ),
        )
    )
    panel = (
        pairs.filter(F.col("pk") <= 8)
        .groupBy("d")
        .agg(F.sum("wgt").cast("bigint").alias("w"))
    )
    panel = materialize_reduced(panel)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = panel.select("d", F.sum("w").over(w).alias("cw"))
    tot = panel.agg(
        F.sum("w").cast("bigint").alias("t"),
        F.expr("(CAST(sum(w) AS BIGINT) + 1) div 2").alias("med_rank"),
    )
    counts = vf.agg(F.count("*").cast("bigint").alias("n_f_vals")).crossJoin(
        vo.agg(F.count("*").cast("bigint").alias("n_o_vals"))
    )
    hl = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(F.when(F.col("cw") >= F.col("med_rank"), F.col("d"))).alias(
            "hl_shift_cents"
        )
    )
    return (
        tot.select(F.col("t").alias("n_pairs"))
        .crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(hl))
        .select("n_pairs", "n_f_vals", "n_o_vals", "hl_shift_cents")
    )


@_q(
    "agg_durbin_watson",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100 AS y
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT day, y,
             ROW_NUMBER() OVER (ORDER BY day) AS t
      FROM daily
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(t * t) AS BIGINT) AS stt,
             CAST(SUM(t * y) AS BIGINT) AS sty
      FROM idx
    ), fit AS (
      SELECT n, st, sy, stt, sty,
             CASE WHEN CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                       - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) > 0.0
             THEN (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
                   - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                     - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
             END AS slope
      FROM m
    ), fit2 AS (
      SELECT n, slope,
             (CAST(sy AS DOUBLE) - slope * CAST(st AS DOUBLE))
             / CAST(n AS DOUBLE) AS icept
      FROM fit
    ), resid AS (
      SELECT i.t,
             CAST(round((CAST(i.y AS DOUBLE)
               - (f.icept + f.slope * CAST(i.t AS DOUBLE))) * 100.0)
               AS BIGINT) AS e_fp
      FROM idx i CROSS JOIN fit2 f
      WHERE f.slope IS NOT NULL
    ), lagd AS (
      SELECT e_fp,
             LAG(e_fp) OVER (ORDER BY t) AS le_fp
      FROM resid
    ), s AS (
      SELECT CAST(SUM(CAST(e_fp AS DECIMAL(38,0)) * e_fp)
                  AS DECIMAL(38,0)) AS see,
             CAST(SUM(CASE WHEN le_fp IS NOT NULL
                  THEN CAST(e_fp - le_fp AS DECIMAL(38,0))
                       * (e_fp - le_fp) ELSE 0 END)
                  AS DECIMAL(38,0)) AS sdd
      FROM lagd
    )
    SELECT f.n AS n_days, f.slope, f.icept,
           CASE WHEN CAST(s.see AS DOUBLE) > 0.0
           THEN CAST(s.sdd AS DOUBLE) / CAST(s.see AS DOUBLE)
           END AS dw
    FROM fit2 f CROSS JOIN s
    """,
)
def agg_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson serial-correlation statistic on OLS-detrended
    daily revenue: closed-form OLS on the (day_index, dollars) series
    from five exact BIGINT moments (slope/intercept as the standard
    cast-per-factor double chains, NULL-guarded degenerate spread =
    constant-index series of < 2 days), residuals computed per row by
    ONE identical IEEE chain and snapped to the 1e-2 residual lattice
    (e_fp = round(e * 100) BIGINT, so both engines sum identical
    integers in any order), then DW = sum (e_t - e_{t-1})^2 / sum
    e_t^2 with DECIMAL(38,0) accumulators (e_fp <= ~1e10 squares to
    1e20 — past int64, inside decimal). dw ~ 2 means no serial
    correlation. One day rollup, one 1-row broadcast fit, one lag
    window over the |days|-bounded series."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
                " AS BIGINT) div 100"
            ).alias("y")
        )
    )
    idx = daily.select(
        "day", "y", F.row_number().over(Window.orderBy("day")).alias("t")
    )
    idx = materialize_reduced(idx)
    m = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("sty"),
    )

    def d(c):
        return F.col(c).cast("double")

    den = d("n") * d("stt") - d("st") * d("st")
    slope = F.when(
        den > 0.0, (d("n") * d("sty") - d("st") * d("sy")) / den
    )
    fit = m.select("n", "st", "sy", slope.alias("slope"))
    fit2 = fit.select(
        "n",
        "slope",
        ((d("sy") - F.col("slope") * d("st")) / d("n")).alias("icept"),
    )
    resid = (
        idx.crossJoin(F.broadcast(fit2))
        .filter(F.col("slope").isNotNull())
        .select(
            "t",
            F.round(
                (
                    F.col("y").cast("double")
                    - (
                        F.col("icept")
                        + F.col("slope") * F.col("t").cast("double")
                    )
                )
                * 100.0,
                0,
            )
            .cast("bigint")
            .alias("e_fp"),
        )
    )
    lagd = resid.select(
        "e_fp", F.lag("e_fp").over(Window.orderBy("t")).alias("le_fp")
    )
    de = F.col("e_fp") - F.col("le_fp")
    s = lagd.agg(
        F.sum(F.col("e_fp").cast("decimal(38,0)") * F.col("e_fp"))
        .cast("decimal(38,0)")
        .alias("see"),
        F.sum(
            F.when(
                F.col("le_fp").isNotNull(),
                de.cast("decimal(38,0)") * de,
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("sdd"),
    )
    return fit2.crossJoin(F.broadcast(s)).select(
        F.col("n").alias("n_days"),
        "slope",
        "icept",
        F.when(
            F.col("see").cast("double") > 0.0,
            F.col("sdd").cast("double") / F.col("see").cast("double"),
        ).alias("dw"),
    )


@_q(
    "agg_partial_correlation",
    """
    WITH v AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
               AS BIGINT) AS y,
             CAST(round(l_tax * 10000.0) AS BIGINT) AS z
      FROM lineitem
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(z) AS BIGINT) AS sz,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
             CAST(SUM(CAST(z AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS szz,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS sxz,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS syz
      FROM v
    ), r AS (
      SELECT n,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS r_xy,
             (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
             / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                       - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
               AS r_xz,
             (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
             / SQRT((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                       - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
               AS r_yz
      FROM m
      WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
        AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
        AND CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
            - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) > 0.0
    )
    SELECT n, r_xy, r_xz, r_yz,
           CASE WHEN (1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz) > 0.0
           THEN (r_xy - r_xz * r_yz)
                / SQRT((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
           END AS r_xy_given_z
    FROM r
    """,
)
def agg_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of (quantity, discounted line value)
    controlling for the tax rate: r_xy.z = (r_xy - r_xz r_yz) /
    sqrt((1 - r_xz^2)(1 - r_yz^2)) from the three pairwise
    centering-free correlation chains — validated bit-identical across
    engines in the round-12 prototype (ROADMAP_r13 #8: the chain must
    mirror TEXTUALLY; the moments are exact so only the final IEEE
    composition matters). First moments are exact BIGINT; second
    moments run in DECIMAL(38,0) with cast-per-factor products (y <=
    1e7 cents squares past int64 at any real SF); every correlation is
    the cast-per-factor double chain, and both the variance guards and
    the |r_z| ~ 1 degeneracy guard are explicit (ANSI totality). One
    scan, one 1-row reduction — embarrassingly scalable."""
    v = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity"), 0).cast("bigint").alias("x"),
        F.round(
            F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * 100.0,
            0,
        )
        .cast("bigint")
        .alias("y"),
        F.round(F.col("l_tax") * 10000.0, 0).cast("bigint").alias("z"),
    )

    def d38(a, b):
        return F.sum(F.col(a).cast("decimal(38,0)") * F.col(b)).cast(
            "decimal(38,0)"
        )

    m = v.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("z").cast("bigint").alias("sz"),
        d38("x", "x").alias("sxx"),
        d38("y", "y").alias("syy"),
        d38("z", "z").alias("szz"),
        d38("x", "y").alias("sxy"),
        d38("x", "z").alias("sxz"),
        d38("y", "z").alias("syz"),
    )

    def d(c):
        return F.col(c).cast("double")

    def var(nm, s1):
        return d("n") * d(nm) - d(s1) * d(s1)

    def corr(snm, a, b, va, vb):
        return (d("n") * d(snm) - d(a) * d(b)) / F.sqrt(va * vb)

    vx, vy, vz = var("sxx", "sx"), var("syy", "sy"), var("szz", "sz")
    r = m.filter((vx > 0.0) & (vy > 0.0) & (vz > 0.0)).select(
        "n",
        corr("sxy", "sx", "sy", vx, vy).alias("r_xy"),
        corr("sxz", "sx", "sz", vx, vz).alias("r_xz"),
        corr("syz", "sy", "sz", vy, vz).alias("r_yz"),
    )
    guard = (1.0 - F.col("r_xz") * F.col("r_xz")) * (
        1.0 - F.col("r_yz") * F.col("r_yz")
    )
    return r.select(
        "n",
        "r_xy",
        "r_xz",
        "r_yz",
        F.when(
            guard > 0.0,
            (F.col("r_xy") - F.col("r_xz") * F.col("r_yz"))
            / F.sqrt(guard),
        ).alias("r_xy_given_z"),
    )


@_q(
    "agg_grubbs_screen",
    """
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100 AS x
      FROM orders GROUP BY 1
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx
      FROM monthly
    ), dev AS (
      SELECT CAST(MAX(abs(mo.x * m.n - m.sx) * 1000000
               + (EXTRACT(year FROM mo.month) * 100
                  + EXTRACT(month FROM mo.month))) AS BIGINT) AS packed
      FROM monthly mo CROSS JOIN m
    )
    SELECT m.n AS n_months,
           CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE) AS mean_dollars,
           CASE WHEN m.n > 1 AND CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                     - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE) > 0.0
           THEN SQRT((CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                      - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))
                     / (CAST(m.n AS DOUBLE)
                        * (CAST(m.n AS DOUBLE) - 1.0)))
           END AS sd_dollars,
           CAST(d.packed % 1000000 AS BIGINT) AS worst_month_ym,
           CASE WHEN m.n > 1 AND CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                     - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE) > 0.0
           THEN (CAST(d.packed // 1000000 AS DOUBLE) / CAST(m.n AS DOUBLE))
                / SQRT((CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                        - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))
                       / (CAST(m.n AS DOUBLE)
                          * (CAST(m.n AS DOUBLE) - 1.0)))
           END AS g_stat
    FROM m CROSS JOIN dev d
    """,
)
def agg_grubbs_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs-style maximum studentized deviation over monthly revenue
    totals: G = max_i |x_i - mean| / s on the ~84-month dollar series.
    The deviation stays EXACT until the final chain via the |n*x_i -
    Sx| identity (integer, no mean subtraction), and the argmax month
    rides a packed integer key (dev*1e6 + yyyymm — deviation dominates,
    month breaks exact ties deterministically toward the LATER month
    via MAX). s is the sample s.d. from exact dollar-lattice moments
    (one sqrt), G = (max_dev/n)/s — both NULL-guarded for n <= 1 or a
    constant series. No critical-value table: the statistic is
    reported, the threshold is the consumer's (documented choice,
    ROADMAP_r13 #9). Bounded 84-row series end-to-end."""
    monthly = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
                " AS BIGINT) div 100"
            ).alias("x")
        )
    )
    monthly = materialize_reduced(monthly)
    m = monthly.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    dev = monthly.crossJoin(F.broadcast(m)).agg(
        F.max(
            F.abs(F.col("x") * F.col("n") - F.col("sx")) * 1000000
            + (F.year("month") * 100 + F.month("month"))
        )
        .cast("bigint")
        .alias("packed")
    )

    def d(c):
        return F.col(c).cast("double")

    spread = d("n") * d("sxx") - d("sx") * d("sx")
    sd = F.sqrt(spread / (d("n") * (d("n") - 1.0)))
    ok = (F.col("n") > 1) & (spread > 0.0)
    return m.crossJoin(F.broadcast(dev)).select(
        F.col("n").alias("n_months"),
        (d("sx") / d("n")).alias("mean_dollars"),
        F.when(ok, sd).alias("sd_dollars"),
        (F.col("packed") % 1000000).cast("bigint").alias("worst_month_ym"),
        F.when(
            ok,
            (F.expr("CAST(packed div 1000000 AS DOUBLE)") / d("n")) / sd,
        ).alias("g_stat"),
    )


# --- round 14 pre-builds (wave 1): randomness, shape, independence ---------


@_q(
    "agg_runs_test",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100 AS y
      FROM orders GROUP BY 1
    ), per AS (
      SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM daily GROUP BY y
    ), cum AS (
      SELECT y, SUM(c) OVER (ORDER BY y
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cy
      FROM per
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             (CAST(SUM(c) AS BIGINT) + 1) // 2 AS med_rank
      FROM per
    ), med AS (
      SELECT MIN(CASE WHEN cy >= tot.med_rank THEN y END) AS m
      FROM cum CROSS JOIN tot
    ), seq AS (
      SELECT day, CASE WHEN y > med.m THEN 1 ELSE 0 END AS above
      FROM daily CROSS JOIN med WHERE y <> med.m
    ), flagged AS (
      SELECT above,
             CASE WHEN above <> LAG(above) OVER (ORDER BY day)
                  THEN 1 ELSE 0 END AS switch
      FROM seq
    ), s AS (
      SELECT CAST(SUM(above) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(above) AS BIGINT) AS n2,
             CAST(1 + SUM(switch) AS BIGINT) AS runs
      FROM flagged
    )
    SELECT n1, n2, runs,
           CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
                 AND 2 * n1 * n2 > n1 + n2 THEN
             (CAST(runs AS DOUBLE)
              - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 / CAST(n1 + n2 AS DOUBLE) + 1.0))
             / SQRT(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                       - CAST(n1 + n2 AS DOUBLE))
                    / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                       * (CAST(n1 + n2 AS DOUBLE) - 1.0)))
           END AS runs_z
    FROM s
    """,
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily-revenue above/below-median
    sequence — the sign-pattern randomness screen beside the
    von Neumann ratio (which sees magnitudes; this sees only order):
    days tying the TYPE-1 median are dropped (standard treatment,
    reported via n1+n2 < |days|), runs = 1 + lag switches, and
    z = (R - mu)/sigma with mu = 2 n1 n2/n + 1 and the textbook
    variance — exact BIGINT counts into one fixed cast-per-factor
    double chain (one sqrt), NULL-guarded for degenerate one-sided
    sequences and 2 n1 n2 <= n (variance <= 0). One day rollup, one
    bounded median lookup, one lag window."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
                " AS BIGINT) div 100"
            ).alias("y")
        )
    )
    daily = materialize_reduced(daily)
    per = daily.groupBy("y").agg(F.count("*").cast("bigint").alias("c"))
    w = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select("y", F.sum("c").over(w).alias("cy"))
    tot = per.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.expr("(CAST(sum(c) AS BIGINT) + 1) div 2").alias("med_rank"),
    )
    med = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(F.when(F.col("cy") >= F.col("med_rank"), F.col("y"))).alias(
            "m"
        )
    )
    seq = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("y") != F.col("m"))
        .select("day", F.when(F.col("y") > F.col("m"), 1).otherwise(0).alias("above"))
    )
    flagged = seq.select(
        "above",
        F.when(
            F.col("above") != F.lag("above").over(Window.orderBy("day")), 1
        )
        .otherwise(0)
        .alias("switch"),
    )
    s = flagged.agg(
        F.sum("above").cast("bigint").alias("n1"),
        (F.count("*") - F.sum("above")).cast("bigint").alias("n2"),
        (1 + F.sum("switch")).cast("bigint").alias("runs"),
    )

    def d(c):
        return F.col(c).cast("double")

    nd = (F.col("n1") + F.col("n2")).cast("double")
    two_n1n2 = 2.0 * d("n1") * d("n2")
    mu = two_n1n2 / nd + 1.0
    var = two_n1n2 * (two_n1n2 - nd) / (nd * nd * (nd - 1.0))
    return s.select(
        "n1",
        "n2",
        "runs",
        F.when(
            (F.col("n1") > 0)
            & (F.col("n2") > 0)
            & (F.col("n1") + F.col("n2") > 1)
            & (2 * F.col("n1") * F.col("n2") > F.col("n1") + F.col("n2")),
            (d("runs") - mu) / F.sqrt(var),
        ).alias("runs_z"),
    )


@_q(
    "agg_quartile_skewness",
    """
    WITH v AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), per AS (
      SELECT g, cents, CAST(COUNT(*) AS BIGINT) AS c
      FROM v GROUP BY g, cents
    ), cum AS (
      SELECT g, cents,
             SUM(c) OVER (PARTITION BY g ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM per
    ), tot AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n,
             GREATEST(1, (CAST(SUM(c) AS BIGINT) + 1) // 4) AS q1_rank,
             (CAST(SUM(c) AS BIGINT) + 1) // 2 AS med_rank,
             LEAST(CAST(SUM(c) AS BIGINT),
                   (3 * (CAST(SUM(c) AS BIGINT) + 1)) // 4) AS q3_rank
      FROM per GROUP BY g
    ), cuts AS (
      SELECT c.g, t.n,
             MIN(CASE WHEN c.cc >= t.q1_rank THEN c.cents END) AS q1,
             MIN(CASE WHEN c.cc >= t.med_rank THEN c.cents END) AS med,
             MIN(CASE WHEN c.cc >= t.q3_rank THEN c.cents END) AS q3
      FROM cum c JOIN tot t ON t.g = c.g
      GROUP BY c.g, t.n
    )
    SELECT g AS stratum, n, q1, med, q3,
           CASE WHEN q3 > q1 THEN
             CAST(q3 + q1 - 2 * med AS DOUBLE) / CAST(q3 - q1 AS DOUBLE)
           END AS bowley_skew
    FROM cuts
    """,
)
def agg_quartile_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quartile) skewness per priority stratum: (q3 + q1 -
    2*med)/(q3 - q1) — the moment-free skew sibling of the graded
    moment entries, immune to the dollar-lattice cubing that makes
    third moments overflow-prone. Quartiles are TYPE-1 cuts on the
    shared per-value cumulative machinery at the documented rank
    convention q1 = max(1, (n+1) div 4), med = (n+1) div 2, q3 =
    min(n, 3(n+1) div 4) — exact integer rank lookups, no
    interpolation. One guarded division per stratum (IQR = 0 on a
    degenerate stratum -> NULL). Bounded by the per-stratum
    distinct-cents tables."""
    per = priority_cents_counts(spark, sf_dir)
    per = materialize_reduced(per)
    w = (
        Window.partitionBy("g")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select("g", "cents", F.sum("c").over(w).alias("cc"))
    n = F.sum("c").cast("bigint")
    tot = per.groupBy("g").agg(
        n.alias("n"),
        F.greatest(
            F.lit(1).cast("bigint"), F.expr("(CAST(sum(c) AS BIGINT) + 1) div 4")
        ).alias("q1_rank"),
        F.expr("(CAST(sum(c) AS BIGINT) + 1) div 2").alias("med_rank"),
        F.least(
            n, F.expr("(3 * (CAST(sum(c) AS BIGINT) + 1)) div 4")
        ).alias("q3_rank"),
    )
    cuts = (
        cum.join(F.broadcast(tot), "g")
        .groupBy("g", "n")
        .agg(
            F.min(
                F.when(F.col("cc") >= F.col("q1_rank"), F.col("cents"))
            ).alias("q1"),
            F.min(
                F.when(F.col("cc") >= F.col("med_rank"), F.col("cents"))
            ).alias("med"),
            F.min(
                F.when(F.col("cc") >= F.col("q3_rank"), F.col("cents"))
            ).alias("q3"),
        )
    )
    return cuts.select(
        F.col("g").alias("stratum"),
        "n",
        "q1",
        "med",
        "q3",
        F.when(
            F.col("q3") > F.col("q1"),
            (F.col("q3") + F.col("q1") - 2 * F.col("med")).cast("double")
            / (F.col("q3") - F.col("q1")).cast("double"),
        ).alias("bowley_skew"),
    )


@_q(
    "agg_chi2_independence",
    """
    WITH cell AS (
      SELECT o_orderstatus AS s, o_orderpriority AS p,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ), rm AS (
      SELECT s, CAST(SUM(o) AS BIGINT) AS r FROM cell GROUP BY s
    ), cm AS (
      SELECT p, CAST(SUM(o) AS BIGINT) AS c FROM cell GROUP BY p
    ), tot AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT s) AS BIGINT) AS n_s,
             CAST(COUNT(DISTINCT p) AS BIGINT) AS n_p
      FROM cell
    ), terms AS (
      SELECT CAST(round(
               (CAST(tot.n AS DOUBLE) * CAST(cell.o AS DOUBLE)
                - CAST(rm.r AS DOUBLE) * CAST(cm.c AS DOUBLE))
               * (CAST(tot.n AS DOUBLE) * CAST(cell.o AS DOUBLE)
                  - CAST(rm.r AS DOUBLE) * CAST(cm.c AS DOUBLE))
               / (CAST(tot.n AS DOUBLE) * CAST(rm.r AS DOUBLE)
                  * CAST(cm.c AS DOUBLE))
               * 1000000000.0) AS BIGINT) AS t_fp
      FROM cell
      JOIN rm USING (s)
      JOIN cm USING (p)
      CROSS JOIN tot
      WHERE rm.r > 0 AND cm.c > 0
    )
    SELECT tot.n, tot.n_s, tot.n_p,
           (tot.n_s - 1) * (tot.n_p - 1) AS df,
           CAST(SUM(t_fp) AS DOUBLE) / 1000000000.0 AS chi2
    FROM terms CROSS JOIN tot
    GROUP BY tot.n, tot.n_s, tot.n_p
    """,
)
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test for status x priority —
    the significance companion to the graded Cramer's V (which
    normalizes this statistic): per cell, (n*o - r*c)^2/(n*r*c) as ONE
    identical cast-per-factor IEEE chain (n*o products pass int64
    comfort on large corpora, so the chain runs in double from the
    start — the agg_autocorr_lag_k shape) snapped to the 1e-9 lattice
    BEFORE the sum, so the 15-cell reduction is exact integer addition
    in any order. Margins are exact BIGINT; df = (|s|-1)(|p|-1) exact.
    Empty margins are structurally excluded. Bounded 15-cell
    reduction."""
    cell = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("s"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count("*").cast("bigint").alias("o"))
    )
    cell = materialize_reduced(cell)
    rm = cell.groupBy("s").agg(F.sum("o").cast("bigint").alias("r"))
    cm = cell.groupBy("p").agg(F.sum("o").cast("bigint").alias("c"))
    tot = cell.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("s").cast("bigint").alias("n_s"),
        F.countDistinct("p").cast("bigint").alias("n_p"),
    )

    def d(c):
        return F.col(c).cast("double")

    dev = d("n") * d("o") - d("r") * d("c")
    term = dev * dev / (d("n") * d("r") * d("c"))
    terms = (
        cell.join(F.broadcast(rm), "s")
        .join(F.broadcast(cm), "p")
        .crossJoin(F.broadcast(tot))
        .filter((F.col("r") > 0) & (F.col("c") > 0))
        .select(
            "n",
            "n_s",
            "n_p",
            F.round(term * 1000000000.0, 0).cast("bigint").alias("t_fp"),
        )
    )
    return terms.groupBy("n", "n_s", "n_p").agg(
        ((F.first("n_s") - 1) * (F.first("n_p") - 1)).alias("df"),
        (F.sum("t_fp").cast("double") / 1000000000.0).alias("chi2"),
    ).select("n", "n_s", "n_p", "df", "chi2")


@_q(
    "agg_fano_factor_daily",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM daily
    )
    SELECT n AS n_days, s1 AS n_orders,
           CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_daily,
           CASE WHEN s1 > 0 THEN
             (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE))
           END AS fano_factor
    FROM s
    """,
)
def agg_fano_factor_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio) of daily order counts —
    the overdispersion screen: ~1 is Poisson arrival, >1 clumped
    (campaign bursts), <1 regularized (rate-limited upstream). F =
    (n*S2 - S1^2)/(n*S1) from exact BIGINT count moments via the
    population-variance identity, one cast-per-factor double chain,
    one division, NULL-guarded empty table. The count-grain sibling of
    events_burstiness_index. One day rollup, 1-row output."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    s = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )

    def d(c):
        return F.col(c).cast("double")

    return s.select(
        F.col("n").alias("n_days"),
        F.col("s1").alias("n_orders"),
        (d("s1") / d("n")).alias("mean_daily"),
        F.when(
            F.col("s1") > 0,
            (d("n") * d("s2") - d("s1") * d("s1")) / (d("n") * d("s1")),
        ).alias("fano_factor"),
    )


# --- round 14: dispersion / slope / stratified-effect screens --------------


@_q(
    "agg_ansari_bradley",
    """
    WITH v AS (
      SELECT o_orderstatus AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), per AS (
      SELECT cents,
             CAST(COUNT(CASE WHEN g = 'F' THEN 1 END) AS BIGINT) AS a,
             CAST(COUNT(CASE WHEN g = 'O' THEN 1 END) AS BIGINT) AS b
      FROM v GROUP BY cents
    ), cum AS (
      SELECT a, b,
             COALESCE(SUM(a + b) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cb
      FROM per
    ), tot AS (
      SELECT CAST(SUM(a + b) AS BIGINT) AS n FROM per
    ), scored AS (
      SELECT a, b,
             LEAST(2 * cb + (a + b) + 1,
                   2 * (tot.n + 1) - (2 * cb + (a + b) + 1)) AS s2
      FROM cum CROSS JOIN tot
    ), s AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n1,
             CAST(SUM(b) AS BIGINT) AS n2,
             CAST(SUM(a * s2) AS BIGINT) AS t2_f,
             CAST(SUM((a + b) * s2) AS BIGINT) AS s2_tot,
             CAST(SUM((a + b) * s2 * s2) AS BIGINT) AS q2_tot
      FROM scored
    )
    SELECT n1, n2, t2_f, s2_tot, q2_tot,
           CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
                 AND CAST(n1 + n2 AS DOUBLE) * q2_tot
                     - CAST(s2_tot AS DOUBLE) * s2_tot > 0 THEN
             (CAST(t2_f AS DOUBLE)
              - CAST(n1 AS DOUBLE) * s2_tot / (n1 + n2))
             / SQRT(CAST(n1 AS DOUBLE) * n2
                    * (CAST(n1 + n2 AS DOUBLE) * q2_tot
                       - CAST(s2_tot AS DOUBLE) * s2_tot)
                    / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                       * (CAST(n1 + n2 AS DOUBLE) - 1.0)))
           END AS ab_z
    FROM s
    """,
)
def agg_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley dispersion-difference rank test between the F and
    O order-value populations — the scale-alternative sibling of the
    Mann-Whitney location test, on the same distinct-VALUE cumulative
    machinery (no global row sort). Symmetric scores min(r, n+1-r) are
    kept DOUBLED so midranks stay integer: mr2 = 2*cum_before + t + 1,
    s2 = min(mr2, 2(n+1) - mr2). The z uses the tie-EXACT conditional
    moments of the realized score multiset — E[T] = n1*S/n, Var =
    n1*n2*(n*Q - S^2)/(n^2(n-1)) — rather than the no-tie textbook
    constants, so heavy cents-lattice ties never bias the screen.
    Exact BIGINT sums (budget: Q2 ~ n^3/3 needs n < 3e6; beyond that
    move the cubic sum to DECIMAL(38,0)), then ONE fixed double chain
    (casts, one sqrt), NULL-guarded for degenerate all-tied data."""
    per = fo_cents_counts(spark, sf_dir)
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.select(
        "a",
        "b",
        F.coalesce(F.sum(F.col("a") + F.col("b")).over(w), F.lit(0)).alias(
            "cb"
        ),
    )
    tot = per.agg(F.sum(F.col("a") + F.col("b")).cast("bigint").alias("n"))
    t = F.col("a") + F.col("b")
    mr2 = 2 * F.col("cb") + t + 1
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "a",
        "b",
        F.least(mr2, 2 * (F.col("n") + 1) - mr2).alias("s2"),
    )
    s = scored.agg(
        F.sum("a").cast("bigint").alias("n1"),
        F.sum("b").cast("bigint").alias("n2"),
        F.sum(F.col("a") * F.col("s2")).cast("bigint").alias("t2_f"),
        F.sum((F.col("a") + F.col("b")) * F.col("s2"))
        .cast("bigint")
        .alias("s2_tot"),
        F.sum((F.col("a") + F.col("b")) * F.col("s2") * F.col("s2"))
        .cast("bigint")
        .alias("q2_tot"),
    )

    def d(c):
        return F.col(c).cast("double")

    nd = (F.col("n1") + F.col("n2")).cast("double")
    nq_ss = nd * F.col("q2_tot") - d("s2_tot") * F.col("s2_tot")
    z = (d("t2_f") - d("n1") * F.col("s2_tot") / (F.col("n1") + F.col("n2"))) / F.sqrt(
        d("n1") * F.col("n2") * nq_ss / (nd * (F.col("n1") + F.col("n2")) * (nd - 1.0))
    )
    return s.select(
        "n1",
        "n2",
        "t2_f",
        "s2_tot",
        "q2_tot",
        F.when(
            (F.col("n1") > 0)
            & (F.col("n2") > 0)
            & (F.col("n1") + F.col("n2") > 1)
            & (nq_ss > 0),
            z,
        ).alias("ab_z"),
    )


@_q(
    "agg_siegel_repeated_medians_banded",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), pairs AS (
      SELECT d1.day AS day_i,
             (CASE WHEN d2.cents - d1.cents < 0 THEN -1 ELSE 1 END
              * CASE WHEN d2.day < d1.day THEN -1 ELSE 1 END)
             * ((abs(d2.cents - d1.cents) * 10000)
                // abs(CAST(d2.day - d1.day AS BIGINT))) AS slope_fp
      FROM daily d1 JOIN daily d2
        ON abs(d2.day - d1.day) BETWEEN 1 AND 30
    ), per_i AS (
      SELECT day_i, slope_fp, CAST(COUNT(*) AS BIGINT) AS c
      FROM pairs GROUP BY day_i, slope_fp
    ), cum_i AS (
      SELECT day_i, slope_fp,
             SUM(c) OVER (PARTITION BY day_i ORDER BY slope_fp
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
             SUM(c) OVER (PARTITION BY day_i) AS n_i
      FROM per_i
    ), med_i AS (
      SELECT day_i, MIN(slope_fp) AS med_slope_fp
      FROM cum_i WHERE cumc >= (n_i + 1) // 2
      GROUP BY day_i
    ), per AS (
      SELECT med_slope_fp, CAST(COUNT(*) AS BIGINT) AS c
      FROM med_i GROUP BY med_slope_fp
    ), cum AS (
      SELECT med_slope_fp,
             SUM(c) OVER (ORDER BY med_slope_fp
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
      FROM per
    ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_days FROM per)
    SELECT t.n_days, m.siegel_slope_fp,
           CAST(m.siegel_slope_fp AS DOUBLE) / 10000.0
             AS slope_cents_per_day
    FROM tot t CROSS JOIN (
      SELECT MIN(med_slope_fp) AS siegel_slope_fp
      FROM cum CROSS JOIN tot
      WHERE cumc >= (n_days + 1) // 2
    ) m
    """,
)
def agg_siegel_repeated_medians_banded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Siegel repeated-medians slope over the daily-revenue series,
    banded: median over days i of (median over partners j with
    |day_j - day_i| in 1..30 of the pairwise slope) — the 50%-
    breakdown upgrade of the banded Theil-Sen entry on the same
    +-30-day panel (validated bound: <= 60 partners per day, pair
    count 60*|days|, per-day median state 60 rows — the double median
    stays bounded, ROADMAP_r14 wave-3 #6). Slopes on the exact 1e-4
    cents/day lattice with BOTH sign factors split out (value sign *
    direction sign) so integer-division truncation matches across
    engines on backward pairs. Inner medians: ONE cumulative window
    partitioned by day_i; outer median: the per-value machinery over
    the |days|-bounded median table."""
    daily = daily_cents(spark, sf_dir)
    daily = materialize_reduced(daily)
    left = daily.select(
        F.col("day").alias("day_i"),
        F.col("cents").alias("c1"),
        F.explode(
            F.array(
                *[F.lit(k) for k in range(-30, 0)],
                *[F.lit(k) for k in range(1, 31)],
            )
        ).alias("off"),
    )
    right = daily.select(
        F.col("day").alias("day_j"), F.col("cents").alias("c2")
    )
    pairs = left.join(
        right, F.expr("date_add(day_i, off)") == F.col("day_j")
    ).select(
        "day_i",
        (
            F.when(F.col("c2") - F.col("c1") < 0, -1).otherwise(1)
            * F.when(F.col("off") < 0, -1).otherwise(1)
            * F.expr("(abs(c2 - c1) * 10000) div abs(off)")
        ).alias("slope_fp"),
    )
    per_i = pairs.groupBy("day_i", "slope_fp").agg(
        F.count("*").cast("bigint").alias("c")
    )
    wi = (
        Window.partitionBy("day_i")
        .orderBy("slope_fp")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_i = per_i.select(
        "day_i",
        "slope_fp",
        F.sum("c").over(wi).alias("cumc"),
        F.sum("c").over(Window.partitionBy("day_i")).alias("n_i"),
    )
    med_i = (
        cum_i.filter(F.col("cumc") >= F.expr("(n_i + 1) div 2"))
        .groupBy("day_i")
        .agg(F.min("slope_fp").alias("med_slope_fp"))
    )
    per = med_i.groupBy("med_slope_fp").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = Window.orderBy("med_slope_fp").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per.select("med_slope_fp", F.sum("c").over(w).alias("cumc"))
    tot = per.agg(F.sum("c").cast("bigint").alias("n_days"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cumc") >= F.expr("(n_days + 1) div 2"))
        .agg(F.min("med_slope_fp").alias("siegel_slope_fp"))
    )
    return tot.crossJoin(F.broadcast(med)).select(
        "n_days",
        "siegel_slope_fp",
        (F.col("siegel_slope_fp").cast("double") / 10000.0).alias(
            "slope_cents_per_day"
        ),
    )


@_q(
    "agg_pooled_vs_welch_df",
    """
    WITH v AS (
      SELECT o_orderstatus AS g,
             CAST(round(o_totalprice) AS BIGINT) AS dollars
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), m AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dollars) AS BIGINT) AS s1,
             CAST(SUM(dollars * dollars) AS BIGINT) AS s2
      FROM v GROUP BY g
    ), w AS (
      SELECT
        (SELECT n FROM m WHERE g = 'F') AS n1,
        (SELECT n FROM m WHERE g = 'O') AS n2,
        (SELECT (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1)
                  / (n - 1) FROM m WHERE g = 'F') AS v1,
        (SELECT (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1)
                  / (n - 1) FROM m WHERE g = 'O') AS v2
    )
    SELECT n1, n2, v1, v2,
           CAST(n1 + n2 - 2 AS BIGINT) AS df_pooled,
           ((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))
             / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                + (v2 / n2) * (v2 / n2) / (n2 - 1)) AS df_welch,
           SQRT(((n1 - 1) * v1 + (n2 - 1) * v2)
                / (CAST(n1 AS DOUBLE) + n2 - 2.0)
                * (1.0 / n1 + 1.0 / n2)) AS se_pooled,
           SQRT(v1 / n1 + v2 / n2) AS se_welch
    FROM w
    """,
)
def agg_pooled_vs_welch_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled-variance vs Welch-Satterthwaite degrees of freedom for
    the F-vs-O mean contrast, with BOTH t denominators — the
    assumption-sensitivity report that prices the equal-variance
    shortcut (ROADMAP_r14 #7): df_welch << df_pooled or a diverging SE
    pair flags heteroscedasticity before anyone trusts the pooled
    t-test. Same whole-DOLLAR exact moment machinery as
    agg_welch_ttest (the cents second moment overflows int64 at
    sf0.1), one fixed double chain, two IEEE sqrts, no libm."""
    v = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.col("o_orderstatus").alias("g"),
            F.round(F.col("o_totalprice"), 0).cast("bigint").alias("dollars"),
        )
    )
    m = v.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dollars").cast("bigint").alias("s1"),
        F.sum(F.col("dollars") * F.col("dollars"))
        .cast("bigint")
        .alias("s2"),
    )
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") / F.col("n") * F.col("s1")
    ) / (F.col("n") - 1)
    f = m.filter(F.col("g") == "F").select(
        F.col("n").alias("n1"), var.alias("v1")
    )
    o = m.filter(F.col("g") == "O").select(
        F.col("n").alias("n2"), var.alias("v2")
    )
    w = f.crossJoin(F.broadcast(o))
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    pooled_var = (
        (F.col("n1") - 1) * F.col("v1") + (F.col("n2") - 1) * F.col("v2")
    ) / (F.col("n1").cast("double") + F.col("n2") - 2.0)
    return w.select(
        "n1",
        "n2",
        "v1",
        "v2",
        (F.col("n1") + F.col("n2") - 2).cast("bigint").alias("df_pooled"),
        (
            ((se1 + se2) * (se1 + se2))
            / (
                se1 * se1 / (F.col("n1") - 1)
                + se2 * se2 / (F.col("n2") - 1)
            )
        ).alias("df_welch"),
        F.sqrt(
            pooled_var * (1.0 / F.col("n1") + 1.0 / F.col("n2"))
        ).alias("se_pooled"),
        F.sqrt(se1 + se2).alias("se_welch"),
    )


@_q(
    "agg_odds_ratio_stratified",
    """
    WITH v AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
             CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT)
                       > 25000000 THEN 1 ELSE 0 END AS hi,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS ur
      FROM orders
    ), cells AS (
      SELECT yr,
             CAST(SUM(hi * ur) AS BIGINT) AS a,
             CAST(SUM(hi * (1 - ur)) AS BIGINT) AS b,
             CAST(SUM((1 - hi) * ur) AS BIGINT) AS c,
             CAST(SUM((1 - hi) * (1 - ur)) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM v GROUP BY yr
    ), mh AS (
      SELECT
        CAST(SUM(CAST(round(CAST(a AS DOUBLE) * d / n * 1000000.0)
                      AS BIGINT)) AS BIGINT) AS num_fp,
        CAST(SUM(CAST(round(CAST(b AS DOUBLE) * c / n * 1000000.0)
                      AS BIGINT)) AS BIGINT) AS den_fp
      FROM cells
    )
    SELECT yr, a, b, c, d,
           CASE WHEN b * c > 0 THEN
             (CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c)
           END AS or_k,
           CASE WHEN mh.den_fp > 0 THEN
             CAST(mh.num_fp AS DOUBLE) / CAST(mh.den_fp AS DOUBLE)
           END AS mh_or
    FROM cells CROSS JOIN mh
    """,
)
def agg_odds_ratio_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio of (order value > $250k) x
    (urgent priority), stratified by order year — the
    confounder-adjusted effect screen beside the crude 2x2 entry
    (Simpson's-paradox-proof: each year contributes a_k*d_k/n_k and
    b_k*c_k/n_k, so a year-composition shift can't manufacture an
    association). Cells are exact integers; each stratum term is ONE
    IEEE multiply-divide chain snapped to the 1e-6 lattice before the
    BIGINT sum (fp_sum discipline: term <= n_k, so 1e10-row strata
    stay under 2^63 by 2+ decades). Reports OR, not log-OR — no libm
    (documented). Per-year rows carry the constant MH column; or_k is
    NULL-guarded on empty off-diagonals."""
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    v = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.when(cents > 25000000, 1).otherwise(0).alias("hi"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("ur"),
    )
    cells = v.groupBy("yr").agg(
        F.sum(F.col("hi") * F.col("ur")).cast("bigint").alias("a"),
        F.sum(F.col("hi") * (1 - F.col("ur"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("hi")) * F.col("ur")).cast("bigint").alias("c"),
        F.sum((1 - F.col("hi")) * (1 - F.col("ur")))
        .cast("bigint")
        .alias("d"),
        F.count("*").cast("bigint").alias("n"),
    )
    cells = materialize_reduced(cells)
    term_num = F.col("a").cast("double") * F.col("d") / F.col("n")
    term_den = F.col("b").cast("double") * F.col("c") / F.col("n")
    mh = cells.agg(
        F.sum(F.round(term_num * 1000000.0, 0).cast("bigint"))
        .cast("bigint")
        .alias("num_fp"),
        F.sum(F.round(term_den * 1000000.0, 0).cast("bigint"))
        .cast("bigint")
        .alias("den_fp"),
    )
    return cells.crossJoin(F.broadcast(mh)).select(
        "yr",
        "a",
        "b",
        "c",
        "d",
        F.when(
            F.col("b") * F.col("c") > 0,
            F.col("a").cast("double") * F.col("d")
            / (F.col("b").cast("double") * F.col("c")),
        ).alias("or_k"),
        F.when(
            F.col("den_fp") > 0,
            F.col("num_fp").cast("double") / F.col("den_fp").cast("double"),
        ).alias("mh_or"),
    )


@_q(
    "agg_extreme_spacings",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), sp AS (
      SELECT cents - LAG(cents) OVER (ORDER BY cents, day) AS gap,
             LAG(cents) OVER (ORDER BY cents, day) AS lo
      FROM daily
    ), gaps AS (
      SELECT gap, lo FROM sp WHERE gap IS NOT NULL
    ), ext AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
             MAX(gap) AS max_gap, MIN(gap) AS min_gap
      FROM gaps
    )
    SELECT n_gaps, max_gap,
           (SELECT MIN(lo) FROM gaps WHERE gap = ext.max_gap)
             AS max_gap_lo,
           min_gap,
           (SELECT MIN(lo) FROM gaps WHERE gap = ext.min_gap)
             AS min_gap_lo
    FROM ext
    """,
)
def agg_extreme_spacings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme spacings of the daily-revenue multiset — max and min gap
    between consecutive SORTED daily totals (the clustering screen:
    a huge max spacing flags an outlier regime, a zero min spacing
    flags exact-duplicate days), each located by its smallest lower
    endpoint (deterministic under gap ties without packed keys — a
    bounded filter against the broadcast extremes instead, because
    cents * any shift would overflow the packed lattice). The lag runs
    over (cents, day) so duplicate totals order deterministically.
    Everything is bounded by the |days| rollup; exact integers end to
    end."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("cents", "day")
    sp = daily.select(
        (F.col("cents") - F.lag("cents").over(w)).alias("gap"),
        F.lag("cents").over(w).alias("lo"),
    )
    gaps = sp.filter(F.col("gap").isNotNull())
    gaps = materialize_reduced(gaps)
    ext = gaps.agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.max("gap").alias("max_gap"),
        F.min("gap").alias("min_gap"),
    )
    lo_max = (
        gaps.join(F.broadcast(ext), F.col("gap") == F.col("max_gap"))
        .agg(F.min("lo").alias("max_gap_lo"))
    )
    lo_min = (
        gaps.join(F.broadcast(ext), F.col("gap") == F.col("min_gap"))
        .agg(F.min("lo").alias("min_gap_lo"))
    )
    return (
        ext.crossJoin(F.broadcast(lo_max))
        .crossJoin(F.broadcast(lo_min))
        .select("n_gaps", "max_gap", "max_gap_lo", "min_gap", "min_gap_lo")
    )


# --- round 15 wave-1 pre-builds: quartile dispersion/location, lag signs ---


@_q(
    "agg_coefficient_quartile_variation",
    """
    WITH v AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), per AS (
      SELECT g, cents, CAST(COUNT(*) AS BIGINT) AS c
      FROM v GROUP BY g, cents
    ), cum AS (
      SELECT g, cents,
             SUM(c) OVER (PARTITION BY g ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM per
    ), tot AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n,
             GREATEST(1, (CAST(SUM(c) AS BIGINT) + 1) // 4) AS q1_rank,
             LEAST(CAST(SUM(c) AS BIGINT),
                   (3 * (CAST(SUM(c) AS BIGINT) + 1)) // 4) AS q3_rank
      FROM per GROUP BY g
    ), cuts AS (
      SELECT c.g, t.n,
             MIN(CASE WHEN c.cc >= t.q1_rank THEN c.cents END) AS q1,
             MIN(CASE WHEN c.cc >= t.q3_rank THEN c.cents END) AS q3
      FROM cum c JOIN tot t ON t.g = c.g
      GROUP BY c.g, t.n
    )
    SELECT g AS stratum, n, q1, q3,
           CASE WHEN q3 + q1 > 0 THEN
             CAST(q3 - q1 AS DOUBLE) / CAST(q3 + q1 AS DOUBLE)
           END AS cqv
    FROM cuts
    """,
)
def agg_coefficient_quartile_variation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Coefficient of quartile variation (q3-q1)/(q3+q1) per priority
    stratum — the scale-free dispersion screen beside Bowley skew
    (agg_quartile_skewness shares the cut machinery verbatim, so the
    two panels can never disagree on their quartiles). TYPE-1 exact
    integer rank lookups at q1 = max(1, (n+1) div 4), q3 = min(n,
    3(n+1) div 4); ONE guarded division per stratum (q3+q1 = 0 only
    on an all-zero stratum -> NULL, impossible on positive prices but
    guarded for ANSI totality). Bounded by the per-stratum
    distinct-cents tables; no moment sums anywhere."""
    per = priority_cents_counts(spark, sf_dir)
    per = materialize_reduced(per)
    w = (
        Window.partitionBy("g")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select("g", "cents", F.sum("c").over(w).alias("cc"))
    n = F.sum("c").cast("bigint")
    tot = per.groupBy("g").agg(
        n.alias("n"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr("(CAST(sum(c) AS BIGINT) + 1) div 4"),
        ).alias("q1_rank"),
        F.least(
            n, F.expr("(3 * (CAST(sum(c) AS BIGINT) + 1)) div 4")
        ).alias("q3_rank"),
    )
    cuts = (
        cum.join(F.broadcast(tot), "g")
        .groupBy("g", "n")
        .agg(
            F.min(
                F.when(F.col("cc") >= F.col("q1_rank"), F.col("cents"))
            ).alias("q1"),
            F.min(
                F.when(F.col("cc") >= F.col("q3_rank"), F.col("cents"))
            ).alias("q3"),
        )
    )
    return cuts.select(
        F.col("g").alias("stratum"),
        "n",
        "q1",
        "q3",
        F.when(
            F.col("q3") + F.col("q1") > 0,
            (F.col("q3") - F.col("q1")).cast("double")
            / (F.col("q3") + F.col("q1")).cast("double"),
        ).alias("cqv"),
    )


@_q(
    "agg_tukey_trimean",
    """
    WITH v AS (
      SELECT o_orderstatus AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), per AS (
      SELECT g, cents, CAST(COUNT(*) AS BIGINT) AS c
      FROM v GROUP BY g, cents
    ), cum AS (
      SELECT g, cents,
             SUM(c) OVER (PARTITION BY g ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM per
    ), tot AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n,
             GREATEST(1, (CAST(SUM(c) AS BIGINT) + 1) // 4) AS q1_rank,
             (CAST(SUM(c) AS BIGINT) + 1) // 2 AS med_rank,
             LEAST(CAST(SUM(c) AS BIGINT),
                   (3 * (CAST(SUM(c) AS BIGINT) + 1)) // 4) AS q3_rank
      FROM per GROUP BY g
    ), cuts AS (
      SELECT c.g, t.n,
             MIN(CASE WHEN c.cc >= t.q1_rank THEN c.cents END) AS q1,
             MIN(CASE WHEN c.cc >= t.med_rank THEN c.cents END) AS med,
             MIN(CASE WHEN c.cc >= t.q3_rank THEN c.cents END) AS q3
      FROM cum c JOIN tot t ON t.g = c.g
      GROUP BY c.g, t.n
    )
    SELECT g AS stratum, n, q1, med, q3,
           CAST(q1 + 2 * med + q3 AS DOUBLE) / 400.0 AS trimean
    FROM cuts
    """,
)
def agg_tukey_trimean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey trimean (q1 + 2*med + q3)/4 per order status — the missing
    member of the robust-location panel (agg_robust_location_panel
    carries midhinge/median; the trimean blends both). Quartiles are
    TYPE-1 cuts on the shared per-value cumulative machinery at the
    documented rank convention; the only float op is the final /400
    (4 quarters x 100 cents -> dollars), a single exact-int-to-double
    division identical in both engines. Bounded by the per-status
    distinct-cents tables."""
    v = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("g"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
    )
    per = v.groupBy("g", "cents").agg(
        F.count("*").cast("bigint").alias("c")
    )
    per = materialize_reduced(per)
    w = (
        Window.partitionBy("g")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select("g", "cents", F.sum("c").over(w).alias("cc"))
    n = F.sum("c").cast("bigint")
    tot = per.groupBy("g").agg(
        n.alias("n"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr("(CAST(sum(c) AS BIGINT) + 1) div 4"),
        ).alias("q1_rank"),
        F.expr("(CAST(sum(c) AS BIGINT) + 1) div 2").alias("med_rank"),
        F.least(
            n, F.expr("(3 * (CAST(sum(c) AS BIGINT) + 1)) div 4")
        ).alias("q3_rank"),
    )
    cuts = (
        cum.join(F.broadcast(tot), "g")
        .groupBy("g", "n")
        .agg(
            F.min(
                F.when(F.col("cc") >= F.col("q1_rank"), F.col("cents"))
            ).alias("q1"),
            F.min(
                F.when(F.col("cc") >= F.col("med_rank"), F.col("cents"))
            ).alias("med"),
            F.min(
                F.when(F.col("cc") >= F.col("q3_rank"), F.col("cents"))
            ).alias("q3"),
        )
    )
    return cuts.select(
        F.col("g").alias("stratum"),
        "n",
        "q1",
        "med",
        "q3",
        (
            (F.col("q1") + 2 * F.col("med") + F.col("q3")).cast("double")
            / F.lit(400.0)
        ).alias("trimean"),
    )


@_q(
    "agg_lag_sign_agreement",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), delta AS (
      SELECT day,
             cents - LAG(cents) OVER (ORDER BY day) AS d
      FROM daily
    ), signs AS (
      SELECT day,
             CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1
                  WHEN d = 0 THEN 0 END AS s
      FROM delta
    ), lagged AS (
      SELECT 1 AS lag_k, s AS s_now,
             LAG(s, 1) OVER (ORDER BY day) AS s_then
      FROM signs
      UNION ALL
      SELECT 7 AS lag_k, s AS s_now,
             LAG(s, 7) OVER (ORDER BY day) AS s_then
      FROM signs
    )
    SELECT lag_k,
           CAST(COUNT(*) FILTER (WHERE s_now <> 0 AND s_then <> 0)
                AS BIGINT) AS n_pairs,
           CAST(COUNT(*) FILTER (WHERE s_now <> 0 AND s_then <> 0
                                   AND s_now = s_then) AS BIGINT) AS n_agree,
           CASE WHEN COUNT(*) FILTER (WHERE s_now <> 0 AND s_then <> 0) > 0
                THEN CAST(COUNT(*) FILTER (WHERE s_now <> 0 AND s_then <> 0
                                             AND s_now = s_then) AS DOUBLE)
                     / COUNT(*) FILTER (WHERE s_now <> 0 AND s_then <> 0)
           END AS agree_share
    FROM lagged
    GROUP BY lag_k
    """,
)
def agg_lag_sign_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-agreement share of daily revenue deltas at lags 1 and 7 —
    the integer-lattice cousin of agg_autocorr_lag_k: where autocorr
    weighs magnitudes (and needs a moment budget), this counts only
    sign(delta_t) == sign(delta_{t-k}) over pairs where BOTH deltas
    are nonzero, so the whole statistic is exact integers plus one
    guarded division per lag. Zero deltas are excluded (a flat day
    carries no direction, the runs-test convention); the warm-up rows
    where either sign is NULL drop via the <> 0 predicates (NULL-safe:
    s <> 0 is NULL, FILTER drops it, both engines). The day spine is
    bounded (~2.4k rows); each lag is one window pass over it, the two
    branches unioned (LAG offsets must be literals in Spark); weekly
    seasonality reads as lag-7 agreement above lag-1."""
    daily = daily_cents(spark, sf_dir)
    delta = daily.select(
        "day",
        (F.col("cents") - F.lag("cents").over(Window.orderBy("day"))).alias(
            "d"
        ),
    )
    signs = delta.select(
        "day",
        F.when(F.col("d") > 0, 1)
        .when(F.col("d") < 0, -1)
        .when(F.col("d") == 0, 0)
        .alias("s"),
    )
    wd = Window.orderBy("day")
    lagged = signs.select(
        F.lit(1).alias("lag_k"),
        F.col("s").alias("s_now"),
        F.lag("s", 1).over(wd).alias("s_then"),
    ).unionAll(
        signs.select(
            F.lit(7).alias("lag_k"),
            F.col("s").alias("s_now"),
            F.lag("s", 7).over(wd).alias("s_then"),
        )
    )
    both = (F.col("s_now") != 0) & (F.col("s_then") != 0)
    n_pairs = F.count(F.when(both, 1)).cast("bigint")
    n_agree = F.count(
        F.when(both & (F.col("s_now") == F.col("s_then")), 1)
    ).cast("bigint")
    return lagged.groupBy("lag_k").agg(
        n_pairs.alias("n_pairs"),
        n_agree.alias("n_agree"),
        F.when(
            n_pairs > 0, n_agree.cast("double") / n_pairs
        ).alias("agree_share"),
    )


# --- round 15 wave-2 pre-builds: ordered trend test, turning points --------


@_q(
    "agg_cochran_armitage_trend",
    """
    WITH base AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) - 1995 AS t,
             CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT)
                       > 25000000 THEN 1 ELSE 0 END AS hi
      FROM orders
    ), cells AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS n_t,
             CAST(SUM(hi) AS BIGINT) AS r_t
      FROM base GROUP BY t
    ), sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_years,
             CAST(SUM(n_t) AS BIGINT) AS n_total,
             CAST(SUM(r_t) AS BIGINT) AS n_high,
             CAST(SUM(t * n_t) AS BIGINT) AS s1,
             CAST(SUM(t * t * n_t) AS BIGINT) AS s2,
             CAST(SUM(t * r_t) AS BIGINT) AS tr
      FROM cells
    )
    SELECT n_years, n_total, n_high, tr,
           CASE WHEN n_total > 0 AND n_high > 0 AND n_high < n_total
                     AND CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                           / CAST(n_total AS DOUBLE) > 0
           THEN
             (CAST(tr AS DOUBLE)
              - CAST(n_high AS DOUBLE) * CAST(s1 AS DOUBLE)
                / CAST(n_total AS DOUBLE))
             / SQRT(
                 (CAST(n_high AS DOUBLE) / CAST(n_total AS DOUBLE))
                 * (1.0 - CAST(n_high AS DOUBLE) / CAST(n_total AS DOUBLE))
                 * (CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                      / CAST(n_total AS DOUBLE))
               )
           END AS ca_z
    FROM sums
    """,
)
def agg_cochran_armitage_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran-Armitage trend test of the high-value-order share (> $250k
    cents threshold, the stratified-OR entry's cut) across ORDERED
    years 1995-2001 with integer scores t = year - 1995: T = sum t*r_t
    against E = p*sum t*n_t and Var = p(1-p)(S2 - S1^2/N) — the
    ordered-alternative sibling of the chi-square independence entry
    (which ignores year order). All five sufficient sums are exact
    BIGINTs (t <= 6, so t^2*n fits trivially); the z chain pivots each
    through ONE int64->double conversion and uses a single
    IEEE-correctly-rounded SQRT. Guards: degenerate share (0 or 1) or
    zero score variance -> NULL. One year rollup, then a 7-row
    reduction."""
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    base = load_table(spark, sf_dir, "orders").select(
        (F.year("o_orderdate").cast("bigint") - 1995).alias("t"),
        F.when(cents > 25000000, 1).otherwise(0).alias("hi"),
    )
    cells = base.groupBy("t").agg(
        F.count("*").cast("bigint").alias("n_t"),
        F.sum("hi").cast("bigint").alias("r_t"),
    )
    sums = cells.agg(
        F.count("*").cast("bigint").alias("n_years"),
        F.sum("n_t").cast("bigint").alias("n_total"),
        F.sum("r_t").cast("bigint").alias("n_high"),
        F.sum(F.col("t") * F.col("n_t")).cast("bigint").alias("s1"),
        F.sum(F.col("t") * F.col("t") * F.col("n_t"))
        .cast("bigint")
        .alias("s2"),
        F.sum(F.col("t") * F.col("r_t")).cast("bigint").alias("tr"),
    )
    d = lambda c: F.col(c).cast("double")
    p = d("n_high") / d("n_total")
    score_var = d("s2") - d("s1") * d("s1") / d("n_total")
    return sums.select(
        "n_years",
        "n_total",
        "n_high",
        "tr",
        F.when(
            (F.col("n_total") > 0)
            & (F.col("n_high") > 0)
            & (F.col("n_high") < F.col("n_total"))
            & (score_var > 0),
            (d("tr") - p * d("s1"))
            / F.sqrt(p * (F.lit(1.0) - p) * score_var),
        ).alias("ca_z"),
    )


@_q(
    "agg_turning_point_test",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), ctx AS (
      SELECT cents,
             LAG(cents) OVER (ORDER BY day) AS prev,
             LEAD(cents) OVER (ORDER BY day) AS nxt
      FROM daily
    ), flags AS (
      SELECT CASE WHEN (prev < cents AND cents > nxt)
                    OR (prev > cents AND cents < nxt)
                  THEN 1 ELSE 0 END AS tp
      FROM ctx WHERE prev IS NOT NULL AND nxt IS NOT NULL
    ), agg AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
             CAST(COALESCE(SUM(tp), 0) AS BIGINT) AS n_turning
      FROM flags
    )
    SELECT n_days, n_turning,
           CASE WHEN n_days >= 3 THEN
             2.0 * (CAST(n_days AS DOUBLE) - 2.0) / 3.0
           END AS expected_tp,
           CASE WHEN n_days >= 3
                     AND 16.0 * CAST(n_days AS DOUBLE) - 29.0 > 0
           THEN (CAST(n_turning AS DOUBLE)
                 - 2.0 * (CAST(n_days AS DOUBLE) - 2.0) / 3.0)
                / SQRT((16.0 * CAST(n_days AS DOUBLE) - 29.0) / 90.0)
           END AS tp_z
    FROM agg
    """,
)
def agg_turning_point_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point randomness test on the daily-revenue sequence: T =
    count of STRICT local extrema (prev < y > next or prev > y < next —
    flat neighbors disqualify by definition, documented) against E =
    2(n-2)/3 and Var = (16n-29)/90; the second-difference-grain screen
    beside the runs test (window_turning_points LISTS the points; this
    grades the test statistic). Interior flags are exact integer
    comparisons on the daily cents; n_days is counted off the day
    spine itself so 0/1/2-day inputs report truthfully (the flags
    table is empty there and n_turning coalesces to 0).
    Cast-per-factor double z with one SQRT; NULL below n = 3. One day
    rollup + one ordered window over the bounded spine."""
    daily = daily_cents(spark, sf_dir)
    w = Window.orderBy("day")
    ctx = daily.select(
        "cents",
        F.lag("cents").over(w).alias("prev"),
        F.lead("cents").over(w).alias("nxt"),
    )
    flags = ctx.filter(
        F.col("prev").isNotNull() & F.col("nxt").isNotNull()
    ).select(
        F.when(
            ((F.col("prev") < F.col("cents")) & (F.col("cents") > F.col("nxt")))
            | ((F.col("prev") > F.col("cents")) & (F.col("cents") < F.col("nxt"))),
            1,
        )
        .otherwise(0)
        .alias("tp")
    )
    nd_tot = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    agg = flags.agg(
        F.coalesce(F.sum("tp"), F.lit(0)).cast("bigint").alias("n_turning")
    ).crossJoin(F.broadcast(nd_tot))
    nd = F.col("n_days").cast("double")
    exp_tp = F.lit(2.0) * (nd - 2.0) / 3.0
    return agg.select(
        "n_days",
        "n_turning",
        F.when(F.col("n_days") >= 3, exp_tp).alias("expected_tp"),
        F.when(
            (F.col("n_days") >= 3) & (F.lit(16.0) * nd - 29.0 > 0),
            (F.col("n_turning").cast("double") - exp_tp)
            / F.sqrt((F.lit(16.0) * nd - 29.0) / 90.0),
        ).alias("tp_z"),
    )


# --- round 15 wave-2 pre-build: MAD z-score outlier census -----------------


@_q(
    "agg_mad_zscore_outlier_census",
    """
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), per AS (
      SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY cents
    ), cum AS (
      SELECT cents,
             SUM(c) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM per
    ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM per),
    med AS (
      SELECT MIN(cents) AS med
      FROM cum CROSS JOIN tot WHERE cc >= (tot.n + 1) // 2
    ), devs AS (
      SELECT abs(per.cents - med.med) AS dev, per.c
      FROM per CROSS JOIN med
    ), dev_per AS (
      SELECT dev, CAST(SUM(c) AS BIGINT) AS c FROM devs GROUP BY dev
    ), dev_cum AS (
      SELECT dev,
             SUM(c) OVER (ORDER BY dev
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM dev_per
    ), mad AS (
      SELECT MIN(dev) AS mad
      FROM dev_cum CROSS JOIN tot WHERE cc >= (tot.n + 1) // 2
    )
    SELECT tot.n, med.med AS med_cents, mad.mad AS mad_cents,
           CAST(SUM(CASE WHEN d.dev * 10000 > 3 * 14826 * mad.mad
                         THEN d.c ELSE 0 END) AS BIGINT) AS n_gt_3s,
           CAST(SUM(CASE WHEN d.dev * 10000 > 5 * 14826 * mad.mad
                         THEN d.c ELSE 0 END) AS BIGINT) AS n_gt_5s,
           CAST(SUM(CASE WHEN d.dev * 10000 > 10 * 14826 * mad.mad
                         THEN d.c ELSE 0 END) AS BIGINT) AS n_gt_10s
    FROM devs d CROSS JOIN med CROSS JOIN mad CROSS JOIN tot
    GROUP BY tot.n, med.med, mad.mad
    """,
)
def agg_mad_zscore_outlier_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust outlier census on order value: counts of |x - median| >
    k * 1.4826 * MAD at k = 3/5/10 — the sigma-equivalent gates a
    mean/stddev z-score would let heavy tails drag around. Median and
    MAD are TYPE-1 rank lookups on the shared per-value cumulative
    machinery; every gate is the exact integer cross-multiply
    dev * 10000 > k * 14826 * MAD (1.4826 carried as the 14826/10000
    rational — no float ever enters a comparison, no division
    anywhere). Budget: dev < 2^38 cents x 10^4 < 2^52. Bounded by the
    distinct-cents table; one broadcast median + one broadcast MAD."""
    v = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        )
    )
    per = v.groupBy("cents").agg(F.count("*").cast("bigint").alias("c"))
    per = materialize_reduced(per)
    cw = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select("cents", F.sum("c").over(cw).alias("cc"))
    tot = per.agg(F.sum("c").cast("bigint").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cc") >= F.expr("(n + 1) div 2"))
        .agg(F.min("cents").alias("med"))
    )
    devs = per.crossJoin(F.broadcast(med)).select(
        F.abs(F.col("cents") - F.col("med")).alias("dev"), "c"
    )
    devs = materialize_reduced(devs)
    dev_per = devs.groupBy("dev").agg(F.sum("c").cast("bigint").alias("c"))
    dw = Window.orderBy("dev").rowsBetween(Window.unboundedPreceding, 0)
    dev_cum = dev_per.select("dev", F.sum("c").over(dw).alias("cc"))
    mad = (
        dev_cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cc") >= F.expr("(n + 1) div 2"))
        .agg(F.min("dev").alias("mad"))
    )
    gate = lambda k: F.sum(
        F.when(
            F.col("dev") * 10000 > k * 14826 * F.col("mad"), F.col("c")
        ).otherwise(0)
    ).cast("bigint")
    return (
        devs.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .crossJoin(F.broadcast(tot))
        .groupBy("n", "med", "mad")
        .agg(
            gate(3).alias("n_gt_3s"),
            gate(5).alias("n_gt_5s"),
            gate(10).alias("n_gt_10s"),
        )
        .select(
            "n",
            F.col("med").alias("med_cents"),
            F.col("mad").alias("mad_cents"),
            "n_gt_3s",
            "n_gt_5s",
            "n_gt_10s",
        )
    )


# --- round 15 wave-3 pre-build: Sen slope rank confidence band --------------


@_q(
    "agg_sen_slope_confidence_band",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), lags AS (
      SELECT d1.day, d1.cents AS c1, d2.cents AS c2,
             CAST(d2.day - d1.day AS BIGINT) AS lag
      FROM daily d1 JOIN daily d2
        ON d2.day - d1.day BETWEEN 1 AND 30
    ), slopes AS (
      SELECT (CASE WHEN c2 - c1 < 0 THEN -1 ELSE 1 END)
             * ((abs(c2 - c1) * 10000) // lag) AS slope_fp
      FROM lags
    ), per AS (
      SELECT slope_fp, CAST(COUNT(*) AS BIGINT) AS c
      FROM slopes GROUP BY slope_fp
    ), cum AS (
      SELECT slope_fp,
             SUM(c) OVER (ORDER BY slope_fp
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
      FROM per
    ), tot AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_pairs FROM per),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
    cc AS (
      SELECT n_days,
             CAST(round(1.96 * sqrt(
               CAST(n_days * (n_days - 1) * (2 * n_days + 5) AS DOUBLE)
               / 18.0)) AS BIGINT) AS c_half
      FROM nd
    ), ranks AS (
      SELECT t.n_pairs, c.n_days, c.c_half,
             GREATEST(CASE WHEN t.n_pairs > c.c_half
               THEN (t.n_pairs - c.c_half) // 2 ELSE 0 END, 1) AS r_lo,
             LEAST((t.n_pairs + c.c_half) // 2 + 1, t.n_pairs) AS r_hi
      FROM tot t CROSS JOIN cc c
    ), med AS (
      SELECT MIN(slope_fp) AS median_slope_fp
      FROM cum CROSS JOIN tot WHERE cumc >= (n_pairs + 1) // 2
    ), lo AS (
      SELECT MIN(slope_fp) AS lo_fp
      FROM cum CROSS JOIN ranks WHERE n_pairs > 0 AND cumc >= r_lo
    ), hi AS (
      SELECT MIN(slope_fp) AS hi_fp
      FROM cum CROSS JOIN ranks WHERE n_pairs > 0 AND cumc >= r_hi
    )
    SELECT r.n_days, r.n_pairs, r.c_half, m.median_slope_fp,
           CAST(m.median_slope_fp AS DOUBLE) / 10000.0
             AS slope_cents_per_day,
           lo.lo_fp AS ci_lo_fp, hi.hi_fp AS ci_hi_fp,
           CAST(lo.lo_fp AS DOUBLE) / 10000.0 AS ci_lo_cents_per_day,
           CAST(hi.hi_fp AS DOUBLE) / 10000.0 AS ci_hi_cents_per_day
    FROM ranks r CROSS JOIN med m CROSS JOIN lo CROSS JOIN hi
    """,
)
def agg_sen_slope_confidence_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sen slope with its rank-based confidence band (ROADMAP_r15 #7):
    the graded agg_theil_sen_banded point estimate plus the classic
    distribution-free interval — C = round(z * sqrt(Var(S))) with
    Var(S) = n(n-1)(2n+5)/18 over the n daily observations, band
    endpoints at the (N-C)/2-th and (N+C)/2+1-th smallest pairwise
    slopes (Sen 1968's ranks, documented here on the SAME lag-1..30
    banded pair panel as the point entry — the band restriction is
    the 100 TB shape, and the formula's n stays the day count).
    Integer-lattice discipline: slopes on the 1e-4 fp lattice with
    the sign-split division; Var's cubic product < 2^53 so its double
    is exact before the one sqrt (IEEE-correct in both engines);
    rank arithmetic is positive integer division only (the N > C
    case-gate keeps every numerator nonnegative — Spark div truncates
    toward zero, DuckDB // floors, they agree only there), clamped to
    [1, N]. Two more cumulative lookups on the existing per-value
    slope table — no new shuffle shape."""
    daily = daily_cents(spark, sf_dir)
    daily = materialize_reduced(daily)
    left = daily.select(
        "day",
        F.col("cents").alias("c1"),
        F.explode(F.sequence(F.lit(1), F.lit(30))).alias("lag"),
    )
    right = daily.select(
        F.col("day").alias("day2"), F.col("cents").alias("c2")
    )
    lags = left.join(
        right, F.expr("date_add(day, lag)") == F.col("day2")
    ).select("c1", "c2", F.col("lag").cast("bigint").alias("lag"))
    slopes = lags.select(
        (
            F.when(F.col("c2") - F.col("c1") < 0, -1).otherwise(1)
            * F.expr("(abs(c2 - c1) * 10000) div lag")
        ).alias("slope_fp")
    )
    per = slopes.groupBy("slope_fp").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = Window.orderBy("slope_fp").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select("slope_fp", F.sum("c").over(w).alias("cumc"))
    tot = per.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_pairs")
    )
    nd = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    cc = nd.select(
        "n_days",
        F.round(
            F.lit(1.96)
            * F.sqrt(
                F.expr(
                    "CAST(n_days * (n_days - 1) * (2 * n_days + 5)"
                    " AS DOUBLE)"
                )
                / 18.0
            ),
            0,
        )
        .cast("bigint")
        .alias("c_half"),
    )
    ranks = tot.crossJoin(F.broadcast(cc)).select(
        "n_pairs",
        "n_days",
        "c_half",
        F.greatest(
            F.when(
                F.col("n_pairs") > F.col("c_half"),
                F.expr("(n_pairs - c_half) div 2"),
            ).otherwise(F.lit(0).cast("bigint")),
            F.lit(1).cast("bigint"),
        ).alias("r_lo"),
        F.least(
            F.expr("(n_pairs + c_half) div 2 + 1"), F.col("n_pairs")
        ).alias("r_hi"),
    )
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cumc") >= F.expr("(n_pairs + 1) div 2"))
        .agg(F.min("slope_fp").alias("median_slope_fp"))
    )
    lo = (
        cum.crossJoin(F.broadcast(ranks))
        .filter((F.col("n_pairs") > 0) & (F.col("cumc") >= F.col("r_lo")))
        .agg(F.min("slope_fp").alias("lo_fp"))
    )
    hi = (
        cum.crossJoin(F.broadcast(ranks))
        .filter((F.col("n_pairs") > 0) & (F.col("cumc") >= F.col("r_hi")))
        .agg(F.min("slope_fp").alias("hi_fp"))
    )
    return (
        ranks.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_days",
            "n_pairs",
            "c_half",
            "median_slope_fp",
            (F.col("median_slope_fp").cast("double") / 10000.0).alias(
                "slope_cents_per_day"
            ),
            F.col("lo_fp").alias("ci_lo_fp"),
            F.col("hi_fp").alias("ci_hi_fp"),
            (F.col("lo_fp").cast("double") / 10000.0).alias(
                "ci_lo_cents_per_day"
            ),
            (F.col("hi_fp").cast("double") / 10000.0).alias(
                "ci_hi_cents_per_day"
            ),
        )
    )


# --- round 16 wave-1 pre-build: Cox-Stuart trend test -----------------------


@_q(
    "agg_cox_stuart_trend",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
    pairs AS (
      SELECT a.cents AS c1, b.cents AS c2
      FROM idx a CROSS JOIN nn
      JOIN idx b ON b.rn = a.rn + (nn.n_days + 1) // 2
    ), agg AS (
      SELECT CAST(COUNT(CASE WHEN c2 > c1 THEN 1 END) AS BIGINT) AS s_plus,
             CAST(COUNT(CASE WHEN c2 < c1 THEN 1 END) AS BIGINT) AS s_minus,
             CAST(COUNT(CASE WHEN c2 = c1 THEN 1 END) AS BIGINT) AS n_ties
      FROM pairs
    )
    SELECT nn.n_days,
           agg.s_plus + agg.s_minus AS n_pairs,
           agg.n_ties, agg.s_plus, agg.s_minus,
           CASE WHEN agg.s_plus + agg.s_minus > 0 THEN
             (2.0 * CAST(agg.s_plus AS DOUBLE)
              - CAST(agg.s_plus + agg.s_minus AS DOUBLE))
             / sqrt(CAST(agg.s_plus + agg.s_minus AS DOUBLE))
           END AS z_stat,
           CASE WHEN agg.s_plus + agg.s_minus = 0 THEN 'insufficient'
                WHEN agg.s_plus > agg.s_minus THEN 'upward'
                WHEN agg.s_plus < agg.s_minus THEN 'downward'
                ELSE 'none' END AS trend_direction
    FROM nn CROSS JOIN agg
    """,
)
def agg_cox_stuart_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart trend test (ROADMAP_r16 #1): pair each of the first
    floor(n/2) daily revenues with its partner h = ceil(n/2) positions
    later (odd n drops the middle observation — the standard pairing,
    stated explicitly), count rises vs falls with ties dropped, and
    grade the sign-test z = (2*S+ - N)/sqrt(N). The half-series
    pairing makes it a TREND test where the graded runs test is a
    randomness test: a monotone drift pushes every pair one way even
    when local noise randomizes the runs. Exact integer counts end to
    end; the pairing join is rank arithmetic on the |days| spine (the
    h offset comes from a 1-row broadcast, positive integer division
    only); one guarded division over one IEEE sqrt. Single-row
    output."""
    daily = daily_cents(spark, sf_dir)
    daily = materialize_reduced(daily)
    idx = daily.select(
        "cents", F.row_number().over(Window.orderBy("day")).alias("rn")
    )
    nn = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    a = idx.select(F.col("cents").alias("c1"), F.col("rn").alias("rn1"))
    b = idx.select(F.col("cents").alias("c2"), F.col("rn").alias("rn2"))
    pairs = (
        a.crossJoin(F.broadcast(nn))
        .join(b, F.col("rn2") == F.col("rn1") + F.expr("(n_days + 1) div 2"))
        .select("c1", "c2")
    )
    agg = pairs.agg(
        F.count(F.when(F.col("c2") > F.col("c1"), 1))
        .cast("bigint")
        .alias("s_plus"),
        F.count(F.when(F.col("c2") < F.col("c1"), 1))
        .cast("bigint")
        .alias("s_minus"),
        F.count(F.when(F.col("c2") == F.col("c1"), 1))
        .cast("bigint")
        .alias("n_ties"),
    )
    n_pairs = F.col("s_plus") + F.col("s_minus")
    return (
        nn.crossJoin(F.broadcast(agg))
        .select(
            "n_days",
            n_pairs.alias("n_pairs"),
            "n_ties",
            "s_plus",
            "s_minus",
            F.when(
                n_pairs > 0,
                (
                    F.lit(2.0) * F.col("s_plus").cast("double")
                    - n_pairs.cast("double")
                )
                / F.sqrt(n_pairs.cast("double")),
            ).alias("z_stat"),
            F.when(n_pairs == 0, F.lit("insufficient"))
            .when(F.col("s_plus") > F.col("s_minus"), F.lit("upward"))
            .when(F.col("s_plus") < F.col("s_minus"), F.lit("downward"))
            .otherwise(F.lit("none"))
            .alias("trend_direction"),
        )
    )


# --- round 16 wave-1 pre-build: decile ratio spread -------------------------


@_q(
    "agg_decile_ratio_spread",
    """
    WITH v AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), per AS (
      SELECT g, cents, CAST(COUNT(*) AS BIGINT) AS c
      FROM v GROUP BY g, cents
    ), cum AS (
      SELECT g, cents,
             SUM(c) OVER (PARTITION BY g ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM per
    ), tot AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n,
             GREATEST(1, (CAST(SUM(c) AS BIGINT) + 1) // 10) AS p10_rank,
             GREATEST(1, (CAST(SUM(c) AS BIGINT) + 1) // 4) AS p25_rank,
             LEAST(CAST(SUM(c) AS BIGINT),
                   (3 * (CAST(SUM(c) AS BIGINT) + 1)) // 4) AS p75_rank,
             LEAST(CAST(SUM(c) AS BIGINT),
                   (9 * (CAST(SUM(c) AS BIGINT) + 1)) // 10) AS p90_rank
      FROM per GROUP BY g
    ), cuts AS (
      SELECT c.g, t.n,
             MIN(CASE WHEN c.cc >= t.p10_rank THEN c.cents END) AS p10,
             MIN(CASE WHEN c.cc >= t.p25_rank THEN c.cents END) AS p25,
             MIN(CASE WHEN c.cc >= t.p75_rank THEN c.cents END) AS p75,
             MIN(CASE WHEN c.cc >= t.p90_rank THEN c.cents END) AS p90
      FROM cum c JOIN tot t ON t.g = c.g
      GROUP BY c.g, t.n
    )
    SELECT g AS stratum, n, p10, p25, p75, p90,
           CASE WHEN p10 > 0 THEN
             CAST(p90 AS DOUBLE) / CAST(p10 AS DOUBLE)
           END AS decile_ratio,
           CASE WHEN p25 > 0 THEN
             CAST(p75 AS DOUBLE) / CAST(p25 AS DOUBLE)
           END AS quartile_ratio
    FROM cuts
    """,
)
def agg_decile_ratio_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile and quartile spread ratios (ROADMAP_r16 #8): p90/p10 and
    p75/p25 per priority stratum — the scale-free spread panel member
    the CQV entry's (q3-q1)/(q3+q1) doesn't cover (a ratio reads
    'the 90th-percentile order is Nx the 10th', the economist's
    inequality phrasing). Shares the per-value cut machinery VERBATIM
    with agg_coefficient_quartile_variation / agg_quartile_skewness
    (same TYPE-1 ranks, clamped to [1, n]), adding the p10/p90 rank
    pair; two guarded divisions per stratum (positive cents make the
    guards ANSI formality). Bounded by per-stratum distinct-cents
    tables, one shuffle."""
    per = priority_cents_counts(spark, sf_dir)
    wc = (
        Window.partitionBy("g")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select("g", "cents", F.sum("c").over(wc).alias("cc"))
    tot = per.groupBy("g").agg(F.sum("c").cast("bigint").alias("n")).select(
        "g",
        "n",
        F.greatest(F.lit(1).cast("bigint"), F.expr("(n + 1) div 10")).alias(
            "p10_rank"
        ),
        F.greatest(F.lit(1).cast("bigint"), F.expr("(n + 1) div 4")).alias(
            "p25_rank"
        ),
        F.least(F.col("n"), F.expr("(3 * (n + 1)) div 4")).alias("p75_rank"),
        F.least(F.col("n"), F.expr("(9 * (n + 1)) div 10")).alias(
            "p90_rank"
        ),
    )
    cuts = (
        cum.join(tot, "g")
        .groupBy("g", "n")
        .agg(
            F.min(
                F.when(F.col("cc") >= F.col("p10_rank"), F.col("cents"))
            ).alias("p10"),
            F.min(
                F.when(F.col("cc") >= F.col("p25_rank"), F.col("cents"))
            ).alias("p25"),
            F.min(
                F.when(F.col("cc") >= F.col("p75_rank"), F.col("cents"))
            ).alias("p75"),
            F.min(
                F.when(F.col("cc") >= F.col("p90_rank"), F.col("cents"))
            ).alias("p90"),
        )
    )
    return cuts.select(
        F.col("g").alias("stratum"),
        "n",
        "p10",
        "p25",
        "p75",
        "p90",
        F.when(
            F.col("p10") > 0,
            F.col("p90").cast("double") / F.col("p10").cast("double"),
        ).alias("decile_ratio"),
        F.when(
            F.col("p25") > 0,
            F.col("p75").cast("double") / F.col("p25").cast("double"),
        ).alias("quartile_ratio"),
    )


# --- round 16 wave 1: Bartels' rank von Neumann ratio -----------------------


@_q(
    "agg_bartels_rank_vn",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), rk AS (
      SELECT day,
             2 * RANK() OVER (ORDER BY cents)
               + COUNT(*) OVER (PARTITION BY cents) - 1 AS r2
      FROM daily
    ), seq AS (
      SELECT r2, r2 - LAG(r2) OVER (ORDER BY day) AS diff FROM rk
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r2) AS BIGINT) AS s1,
             CAST(SUM(r2 * r2) AS BIGINT) AS s2,
             CAST(SUM(diff * diff) AS BIGINT) AS sdd,
             CAST(COUNT(diff) AS BIGINT) AS n_diffs
      FROM seq
    )
    SELECT n AS n_days, n_diffs,
           CASE WHEN n_diffs > 0
                 AND CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE) > 0.0
           THEN CAST(sdd AS DOUBLE)
                / (CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / CAST(n AS DOUBLE))
           END AS rvn_rank,
           CASE WHEN n_diffs > 0
                 AND CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE) > 0.0
           THEN (CAST(sdd AS DOUBLE)
                 / (CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                      / CAST(n AS DOUBLE))
                 - 2.0)
                / SQRT(4.0 / CAST(n AS DOUBLE))
           END AS rvn_z
    FROM s
    """,
)
def agg_bartels_rank_vn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels' RANK von Neumann ratio (ROADMAP_r16 #2): the graded
    agg_von_neumann_ratio recomputed on the ranks of the daily-revenue
    series — the distribution-free randomness screen (rank-ordering
    survives any monotone transform of the values, so heavy tails
    can't dominate the successive-difference sum the way they can in
    the value-space ratio). Ties take exact mid-ranks via the
    integer-lattice trick: r2 = 2*RANK() + tie_count - 1 is TWICE the
    mid-rank and stays integral; RVN = sum(d^2)/sum((R-Rbar)^2) is
    scale-invariant so the doubling cancels. Moment budget: r2 <= 2n
    on the |days|-bounded spine, so sum(r2^2) <= 4n^3 — exact BIGINT
    to millions of days. z is the large-sample (RVN - 2)/sqrt(4/n)
    (Bartels 1982 asymptotic), NULL-guarded alongside the ratio for
    constant series (zero rank variance) and the single-day
    degenerate. One day rollup + two bounded windows + one reduce."""
    daily = daily_cents(spark, sf_dir)
    rk = daily.select(
        "day",
        (
            F.lit(2) * F.rank().over(Window.orderBy("cents")).cast("bigint")
            + F.count("*")
            .over(Window.partitionBy("cents"))
            .cast("bigint")
            - 1
        ).alias("r2"),
    )
    seq = rk.select(
        "r2",
        (F.col("r2") - F.lag("r2").over(Window.orderBy("day"))).alias(
            "diff"
        ),
    )
    s = seq.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("r2").cast("bigint").alias("s1"),
        F.sum(F.col("r2") * F.col("r2")).cast("bigint").alias("s2"),
        F.sum(F.col("diff") * F.col("diff")).cast("bigint").alias("sdd"),
        F.count("diff").cast("bigint").alias("n_diffs"),
    )
    nd = F.col("n").cast("double")
    den = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / nd
    )
    ratio = F.col("sdd").cast("double") / den
    ok = (F.col("n_diffs") > 0) & (den > 0.0)
    return s.select(
        F.col("n").alias("n_days"),
        "n_diffs",
        F.when(ok, ratio).alias("rvn_rank"),
        F.when(ok, (ratio - 2.0) / F.sqrt(F.lit(4.0) / nd)).alias("rvn_z"),
    )


# --- round 16 wave 1: Wallis-Moore phase-frequency test ---------------------


@_q(
    "agg_wallis_moore_phase",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), seq AS (
      SELECT day, cents - LAG(cents) OVER (ORDER BY day) AS diff FROM daily
    ), nz AS (
      SELECT day, CASE WHEN diff > 0 THEN 1 ELSE 0 END AS sgn
      FROM seq WHERE diff IS NOT NULL AND diff <> 0
    ), runs AS (
      SELECT CASE WHEN LAG(sgn) OVER (ORDER BY day) IS NULL
                   OR sgn <> LAG(sgn) OVER (ORDER BY day)
                  THEN 1 ELSE 0 END AS st
      FROM nz
    ), agg AS (
      SELECT CAST(COALESCE(SUM(st), 0) AS BIGINT) AS n_phases_total,
             CAST(COUNT(*) AS BIGINT) AS n_signs
      FROM runs
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
    eff AS (
      SELECT nn.n_days, agg.n_signs, agg.n_phases_total,
             agg.n_signs + LEAST(nn.n_days, 1) AS n_eff,
             GREATEST(agg.n_phases_total - 2, 0) AS h
      FROM nn CROSS JOIN agg
    )
    SELECT n_days, n_signs, n_phases_total,
           CAST(h AS BIGINT) AS n_phases_interior,
           CASE WHEN n_eff >= 4 THEN
             (2.0 * CAST(n_eff AS DOUBLE) - 7.0) / 3.0
           END AS expected_phases,
           CASE WHEN n_eff >= 4 THEN
             (CAST(h AS DOUBLE)
              - (2.0 * CAST(n_eff AS DOUBLE) - 7.0) / 3.0)
             / SQRT((16.0 * CAST(n_eff AS DOUBLE) - 29.0) / 90.0)
           END AS phase_z
    FROM eff
    """,
)
def agg_wallis_moore_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wallis-Moore phase-frequency test (ROADMAP_r16 #9): segment the
    signs of consecutive daily-revenue deltas into maximal same-sign
    phases, count the INTERIOR phases h (both end phases excluded, the
    standard definition), and grade z against E = (2n-7)/3, Var =
    (16n-29)/90. The difference-sign sibling of the graded
    turning-point test: a seasonal oscillation shows up as too MANY
    short phases, a drifting level as too FEW. Flat-run rule (stated,
    per the roadmap contract): zero deltas are DROPPED before
    segmentation — ties carry no direction information — and the
    effective series length n = n_signs + 1 (each retained delta links
    two retained observations; the all-constant series collapses to
    n = 1 and reports NULL statistics). Exact integer counts end to
    end; one day rollup + two ordered windows over the bounded spine;
    z is one fixed IEEE chain with a single SQRT, guarded below
    n = 4."""
    daily = daily_cents(spark, sf_dir)
    daily = materialize_reduced(daily)
    seq = daily.select(
        "day",
        (F.col("cents") - F.lag("cents").over(Window.orderBy("day"))).alias(
            "diff"
        ),
    )
    nz = seq.filter(
        F.col("diff").isNotNull() & (F.col("diff") != 0)
    ).select(
        "day", F.when(F.col("diff") > 0, 1).otherwise(0).alias("sgn")
    )
    lagged = F.lag("sgn").over(Window.orderBy("day"))
    runs = nz.select(
        F.when(lagged.isNull() | (F.col("sgn") != lagged), 1)
        .otherwise(0)
        .alias("st")
    )
    agg = runs.agg(
        F.coalesce(F.sum("st"), F.lit(0))
        .cast("bigint")
        .alias("n_phases_total"),
        F.count("*").cast("bigint").alias("n_signs"),
    )
    nn = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    eff = nn.crossJoin(F.broadcast(agg)).select(
        "n_days",
        "n_signs",
        "n_phases_total",
        (
            F.col("n_signs") + F.least(F.col("n_days"), F.lit(1).cast("bigint"))
        ).alias("n_eff"),
        F.greatest(
            F.col("n_phases_total") - 2, F.lit(0).cast("bigint")
        ).alias("h"),
    )
    ne = F.col("n_eff").cast("double")
    exp_ph = (F.lit(2.0) * ne - 7.0) / 3.0
    return eff.select(
        "n_days",
        "n_signs",
        "n_phases_total",
        F.col("h").cast("bigint").alias("n_phases_interior"),
        F.when(F.col("n_eff") >= 4, exp_ph).alias("expected_phases"),
        F.when(
            F.col("n_eff") >= 4,
            (F.col("h").cast("double") - exp_ph)
            / F.sqrt((F.lit(16.0) * ne - 29.0) / 90.0),
        ).alias("phase_z"),
    )


# --- round 16 wave 2: Blomqvist medial correlation --------------------------


@_q(
    "agg_blomqvist_beta",
    """
    WITH v AS (
      SELECT CAST(round(l_quantity * 100) AS BIGINT) AS qc,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
      FROM lineitem
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    qper AS (
      SELECT qc, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY qc
    ), qcum AS (
      SELECT qc, SUM(c) OVER (ORDER BY qc
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM qper
    ), qmed AS (
      SELECT MIN(qc) AS mq FROM qcum CROSS JOIN tot
      WHERE cc >= (tot.n + 1) // 2
    ), pper AS (
      SELECT pc, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY pc
    ), pcum AS (
      SELECT pc, SUM(c) OVER (ORDER BY pc
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM pper
    ), pmed AS (
      SELECT MIN(pc) AS mp FROM pcum CROSS JOIN tot
      WHERE cc >= (tot.n + 1) // 2
    ), cen AS (
      SELECT
        CAST(COUNT(CASE WHEN qc > mq AND pc > mp THEN 1 END) AS BIGINT)
          AS n11,
        CAST(COUNT(CASE WHEN qc < mq AND pc < mp THEN 1 END) AS BIGINT)
          AS n00,
        CAST(COUNT(CASE WHEN qc > mq AND pc < mp THEN 1 END) AS BIGINT)
          AS n10,
        CAST(COUNT(CASE WHEN qc < mq AND pc > mp THEN 1 END) AS BIGINT)
          AS n01,
        CAST(COUNT(CASE WHEN qc = mq OR pc = mp THEN 1 END) AS BIGINT)
          AS n_dropped
      FROM v CROSS JOIN qmed CROSS JOIN pmed
    )
    SELECT tot.n AS n_total, cen.n_dropped,
           cen.n11, cen.n00, cen.n10, cen.n01,
           qmed.mq AS med_qty_cents, pmed.mp AS med_price_cents,
           CASE WHEN cen.n11 + cen.n00 + cen.n10 + cen.n01 > 0 THEN
             CAST(cen.n11 + cen.n00 - cen.n10 - cen.n01 AS DOUBLE)
             / CAST(cen.n11 + cen.n00 + cen.n10 + cen.n01 AS DOUBLE)
           END AS blomqvist_beta
    FROM tot CROSS JOIN cen CROSS JOIN qmed CROSS JOIN pmed
    """,
)
def agg_blomqvist_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blomqvist's beta (medial correlation, ROADMAP_r16 #5): the
    quadrant census of (quantity, extendedprice) around the TYPE-1
    lower medians of each measure — beta = (n11 + n00 - n10 - n01) /
    (quadrant total), the coarsest-but-most-robust dependence screen
    (one bit of rank information per axis; a single wild row moves it
    by at most 1/n). On-median rows are DROPPED per the standard
    definition (counted in n_dropped so the census always sums to
    n_total). Both medians are TYPE-1 rank lookups on the shared
    per-value cumulative machinery over exact cent lattices; the
    census is one wide conditional aggregate against the two 1-row
    broadcast cuts; exact integer counts with one guarded division.
    Two per-value rollups + one scan-wide reduce."""
    v = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity") * 100, 0).cast("bigint").alias("qc"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("pc"),
    )
    v = materialize_reduced(v)
    tot = v.agg(F.count("*").cast("bigint").alias("n"))

    def _type1_median(col):
        per = v.groupBy(col).agg(F.count("*").cast("bigint").alias("c"))
        cum = per.select(
            col,
            F.sum("c")
            .over(
                Window.orderBy(col).rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            .alias("cc"),
        )
        return (
            cum.crossJoin(F.broadcast(tot))
            .filter(F.col("cc") >= F.expr("(n + 1) div 2"))
            .agg(F.min(col).alias("m_" + col))
        )

    qmed = _type1_median("qc")
    pmed = _type1_median("pc")
    cen = (
        v.crossJoin(F.broadcast(qmed))
        .crossJoin(F.broadcast(pmed))
        .agg(
            F.count(
                F.when((F.col("qc") > F.col("m_qc")) & (F.col("pc") > F.col("m_pc")), 1)
            )
            .cast("bigint")
            .alias("n11"),
            F.count(
                F.when((F.col("qc") < F.col("m_qc")) & (F.col("pc") < F.col("m_pc")), 1)
            )
            .cast("bigint")
            .alias("n00"),
            F.count(
                F.when((F.col("qc") > F.col("m_qc")) & (F.col("pc") < F.col("m_pc")), 1)
            )
            .cast("bigint")
            .alias("n10"),
            F.count(
                F.when((F.col("qc") < F.col("m_qc")) & (F.col("pc") > F.col("m_pc")), 1)
            )
            .cast("bigint")
            .alias("n01"),
            F.count(
                F.when((F.col("qc") == F.col("m_qc")) | (F.col("pc") == F.col("m_pc")), 1)
            )
            .cast("bigint")
            .alias("n_dropped"),
            F.min("m_qc").alias("med_qty_cents"),
            F.min("m_pc").alias("med_price_cents"),
        )
    )
    quad = F.col("n11") + F.col("n00") + F.col("n10") + F.col("n01")
    return tot.crossJoin(F.broadcast(cen)).select(
        F.col("n").alias("n_total"),
        "n_dropped",
        "n11",
        "n00",
        "n10",
        "n01",
        "med_qty_cents",
        "med_price_cents",
        F.when(
            quad > 0,
            (F.col("n11") + F.col("n00") - F.col("n10") - F.col("n01"))
            .cast("double")
            / quad.cast("double"),
        ).alias("blomqvist_beta"),
    )


# --- round 16 wave 1: winsorized variance -----------------------------------


@_q(
    "agg_winsorized_variance",
    """
    WITH v AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), per AS (
      SELECT g, cents, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY g, cents
    ), cum AS (
      SELECT g, cents,
             SUM(c) OVER (PARTITION BY g ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM per
    ), tot AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n,
             GREATEST(1, (CAST(SUM(c) AS BIGINT) + 1) // 20) AS p5_rank,
             LEAST(CAST(SUM(c) AS BIGINT),
                   (19 * (CAST(SUM(c) AS BIGINT) + 1)) // 20) AS p95_rank
      FROM per GROUP BY g
    ), cuts AS (
      SELECT c.g, t.n,
             MIN(CASE WHEN c.cc >= t.p5_rank THEN c.cents END) AS lo,
             MIN(CASE WHEN c.cc >= t.p95_rank THEN c.cents END) AS hi
      FROM cum c JOIN tot t ON t.g = c.g
      GROUP BY c.g, t.n
    ), clipped AS (
      SELECT v.g, cuts.n, cuts.lo, cuts.hi,
             LEAST(GREATEST(v.cents, cuts.lo), cuts.hi) AS wc
      FROM v JOIN cuts ON cuts.g = v.g
    ), mu AS (
      SELECT g, n, lo, hi,
             CAST(SUM(wc) AS BIGINT) // n AS mu_cents
      FROM clipped GROUP BY g, n, lo, hi
    ), moments AS (
      SELECT c.g, c.n, c.lo, c.hi, m.mu_cents,
             CAST(SUM(CAST((c.wc - m.mu_cents) * (c.wc - m.mu_cents)
                           AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ssd,
             CAST(SUM(c.wc // 100) AS BIGINT) AS s1d,
             CAST(SUM((c.wc // 100) * (c.wc // 100)) AS BIGINT) AS s2d
      FROM clipped c JOIN mu m ON m.g = c.g
      GROUP BY c.g, c.n, c.lo, c.hi, m.mu_cents
    )
    SELECT g AS stratum, n, lo AS lo_cents, hi AS hi_cents, mu_cents,
           ssd AS wins_ssd_cents2,
           CASE WHEN n > 1 THEN
             (CAST(s2d AS DOUBLE)
              - CAST(s1d AS DOUBLE) / CAST(n AS DOUBLE) * CAST(s1d AS DOUBLE))
             / (CAST(n AS DOUBLE) - 1.0)
           END AS wins_var_dollars2
    FROM moments
    """,
)
def agg_winsorized_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized variance per priority (ROADMAP_r16 #7): clip the cent
    lattice at the TYPE-1 p5/p95 cuts (the winsorized-mean semantics
    on the decile entry's exact rank machinery — no interpolation),
    then grade BOTH an exact and an IEEE moment: wins_ssd_cents2 is
    the floor-mean-centered second moment on the clipped cents,
    summed as DECIMAL(38,0) (per-row squares stay under 2^63 because
    deviations are bounded by the clip width, but the SUM crosses
    int64 at sf0.1 — the stated budget), and wins_var_dollars2 is the
    sample variance on the clipped DOLLAR lattice via exact BIGINT
    power sums and the Welch-entry IEEE chain (dollars keep the raw
    second moment in int64 to ~sf10; positive values make // and div
    agree). One per-value rollup, one broadcast cut join, two
    reduces."""
    v = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
    )
    per = v.groupBy("g", "cents").agg(
        F.count("*").cast("bigint").alias("c")
    )
    wc_win = (
        Window.partitionBy("g")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select("g", "cents", F.sum("c").over(wc_win).alias("cc"))
    tot = per.groupBy("g").agg(F.sum("c").cast("bigint").alias("n")).select(
        "g",
        "n",
        F.greatest(
            F.lit(1).cast("bigint"), F.expr("(n + 1) div 20")
        ).alias("p5_rank"),
        F.least(F.col("n"), F.expr("(19 * (n + 1)) div 20")).alias(
            "p95_rank"
        ),
    )
    cuts = (
        cum.join(tot, "g")
        .groupBy("g", "n")
        .agg(
            F.min(
                F.when(F.col("cc") >= F.col("p5_rank"), F.col("cents"))
            ).alias("lo"),
            F.min(
                F.when(F.col("cc") >= F.col("p95_rank"), F.col("cents"))
            ).alias("hi"),
        )
    )
    clipped = v.join(F.broadcast(cuts), "g").select(
        "g",
        "n",
        "lo",
        "hi",
        F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi")).alias(
            "wc"
        ),
    )
    clipped = materialize_reduced(clipped)
    mu = clipped.groupBy("g", "n", "lo", "hi").agg(
        F.expr("CAST(sum(wc) AS BIGINT) div n").alias("mu_cents")
    )
    dollars = F.expr("wc div 100")
    moments = (
        clipped.join(
            F.broadcast(mu.select("g", "mu_cents")), "g"
        )
        .groupBy("g", "n", "lo", "hi", "mu_cents")
        .agg(
            F.sum(
                (
                    (F.col("wc") - F.col("mu_cents"))
                    * (F.col("wc") - F.col("mu_cents"))
                ).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("ssd"),
            F.sum(dollars).cast("bigint").alias("s1d"),
            F.sum(dollars * dollars).cast("bigint").alias("s2d"),
        )
    )
    nd = F.col("n").cast("double")
    return moments.select(
        F.col("g").alias("stratum"),
        "n",
        F.col("lo").alias("lo_cents"),
        F.col("hi").alias("hi_cents"),
        "mu_cents",
        F.col("ssd").alias("wins_ssd_cents2"),
        F.when(
            F.col("n") > 1,
            (
                F.col("s2d").cast("double")
                - F.col("s1d").cast("double") / nd * F.col("s1d").cast("double")
            )
            / (nd - 1.0),
        ).alias("wins_var_dollars2"),
    )


# --- round 16 wave 2: Goodman-Kruskal gamma + Somers' D ---------------------
# Shared concordance machinery (the agg_kendall_tau 2-D lattice): rows
# collapse onto (quantity, price-band) cells, C/D/tie counts are exact
# BIGINT cross products over the bounded lattice self-join. Built
# together per ROADMAP_r16 #3/#4 - one machinery, two denominators.

_CONCORDANCE_SQL = """
    WITH v AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
               // 120000 AS band
      FROM lineitem
    ), cells AS (
      SELECT q, band, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v GROUP BY q, band
    ), pairs AS (
      SELECT CAST(SUM(CASE WHEN a.band < b.band
                           THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT) AS conc,
             CAST(SUM(CASE WHEN a.band > b.band
                           THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT) AS disc
      FROM cells a JOIN cells b ON a.q < b.q
    ), qt AS (
      SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS ties_q
      FROM (SELECT SUM(cnt) AS t FROM cells GROUP BY q)
    ), bt AS (
      SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS ties_band
      FROM (SELECT SUM(cnt) AS t FROM cells GROUP BY band)
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cells
    )
"""


def _concordance_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row frame (n, conc, disc, ties_q, ties_band) — the Kendall
    machinery verbatim (agg_kendall_tau docstring carries the budget:
    n0 < 2^63 to ~4e9 rows)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.expr(
            "CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)"
            " AS BIGINT) div 120000"
        ).alias("band"),
    )
    cells = li.groupBy("q", "band").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    cells = materialize_reduced(cells)
    a = cells.alias("a")
    b = cells.alias("b")
    pairs = a.join(b, F.col("a.q") < F.col("b.q")).agg(
        F.sum(
            F.when(
                F.col("a.band") < F.col("b.band"),
                F.col("a.cnt") * F.col("b.cnt"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("conc"),
        F.sum(
            F.when(
                F.col("a.band") > F.col("b.band"),
                F.col("a.cnt") * F.col("b.cnt"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("disc"),
    )
    qt = (
        cells.groupBy("q")
        .agg(F.sum("cnt").alias("t"))
        .agg(
            F.sum(F.expr("t * (t - 1) div 2"))
            .cast("bigint")
            .alias("ties_q")
        )
    )
    bt = (
        cells.groupBy("band")
        .agg(F.sum("cnt").alias("t"))
        .agg(
            F.sum(F.expr("t * (t - 1) div 2"))
            .cast("bigint")
            .alias("ties_band")
        )
    )
    tot = cells.agg(F.sum("cnt").cast("bigint").alias("n"))
    return (
        pairs.crossJoin(F.broadcast(qt))
        .crossJoin(F.broadcast(bt))
        .crossJoin(F.broadcast(tot))
    )


@_q(
    "agg_goodman_kruskal_gamma",
    _CONCORDANCE_SQL
    + """
    SELECT n, conc, disc,
           CASE WHEN conc + disc > 0 THEN
             (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
             / (CAST(conc AS DOUBLE) + CAST(disc AS DOUBLE))
           END AS gamma
    FROM pairs CROSS JOIN tot
    """,
)
def agg_goodman_kruskal_gamma(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Goodman-Kruskal gamma between line quantity and discounted
    price band (ROADMAP_r16 #3): (C - D)/(C + D) on the Kendall
    lattice machinery's exact concordance counts, with the
    tie-EXCLUDING denominator (stated tie contract vs tau-b: gamma
    ignores every tied pair entirely, so on a coarse lattice it reads
    systematically larger in magnitude than tau-b — the right
    statistic when ties are an artifact of banding, the wrong one
    when they are real). One guarded division over the shared 1-row
    concordance frame; the pair join is lattice-bounded (~5k cells),
    never data-bounded."""
    j = _concordance_frame(spark, sf_dir)
    cd = F.col("conc").cast("double")
    dd = F.col("disc").cast("double")
    return j.select(
        "n",
        "conc",
        "disc",
        F.when(
            F.col("conc") + F.col("disc") > 0, (cd - dd) / (cd + dd)
        ).alias("gamma"),
    )


@_q(
    "agg_somers_d",
    _CONCORDANCE_SQL
    + """
    SELECT n, conc, disc, ties_q, ties_band,
           CASE WHEN n * (n - 1) // 2 - ties_q > 0 THEN
             (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
             / CAST(n * (n - 1) // 2 - ties_q AS DOUBLE)
           END AS somers_d_band_given_q,
           CASE WHEN n * (n - 1) // 2 - ties_band > 0 THEN
             (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
             / CAST(n * (n - 1) // 2 - ties_band AS DOUBLE)
           END AS somers_d_q_given_band
    FROM pairs CROSS JOIN qt CROSS JOIN bt CROSS JOIN tot
    """,
)
def agg_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D for both dependent-variable choices (ROADMAP_r16 #4):
    the asymmetric cousin of gamma off the SAME concordance counts —
    d_y|x = (C - D)/(C + D + T_y-only), penalizing ties on the
    DEPENDENT side only, via the marginal identity C + D + T_y-only
    = n(n-1)/2 - ties_x(marginal) (pairs tied on both axes cancel
    from both sides, so the existing marginal tie counts suffice —
    no extra aggregate). Emitted in both directions (band given
    quantity, the regression-flavored one, and its transpose) so the
    asymmetry is itself graded; guarded for the all-tied degenerate.
    Budget identical to agg_kendall_tau (n0 < 2^63 to ~4e9 rows)."""
    j = _concordance_frame(spark, sf_dir)
    n0 = F.expr("n * (n - 1) div 2")
    cd = F.col("conc").cast("double") - F.col("disc").cast("double")
    return j.select(
        "n",
        "conc",
        "disc",
        "ties_q",
        "ties_band",
        F.when(
            n0 - F.col("ties_q") > 0,
            cd / (n0 - F.col("ties_q")).cast("double"),
        ).alias("somers_d_band_given_q"),
        F.when(
            n0 - F.col("ties_band") > 0,
            cd / (n0 - F.col("ties_band")).cast("double"),
        ).alias("somers_d_q_given_band"),
    )
