"""Set operations, distinct, sorts, limits (§2b; S5's implicit concat-union
and S6's dedup-by-key are the reference seeds —
/root/reference/src/file_manager.py:149-191, /root/reference/src/core/db_manager.py:135).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from .helpers import registry

QUERIES, ORACLES, _q = registry()


@_q(
    "setop_union_all_counts",
    """
    SELECT nationkey, COUNT(*) AS n FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION ALL
      SELECT s_nationkey AS nationkey FROM supplier
    ) GROUP BY nationkey
    """,
)
def setop_union_all_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag union — the Spark analog of the reference's chunk
    concatenation S5) then count per key."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.unionAll(supp).groupBy("nationkey").agg(F.count("*").alias("n"))


@_q(
    "setop_intersect_nations",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def setop_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): nations with both customers and suppliers."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.intersect(supp)


@_q(
    "setop_except_nations",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def setop_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference): nations with customers but no suppliers.

    ``subtract`` is EXCEPT DISTINCT — set semantics. (``exceptAll`` is bag
    difference: leftover multiplicities survive when the left side has more
    rows per key, which is not what SQL EXCEPT means.)
    """
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.subtract(supp)


@_q(
    "distinct_order_dims",
    """
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
)
def distinct_order_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT on a composite key (hash-aggregate based)."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority"
    ).distinct()


@_q(
    "sort_limit_top_orders",
    """
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def sort_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Catalyst compiles orderBy+limit to TakeOrderedAndProject
    (per-partition heap + driver merge of k rows) — never a full sort at
    scale. Tie-broken on the unique key for determinism."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


@_q(
    "setop_symmetric_diff_active_custkeys",
    """
    WITH h1 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'
    ), h2 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= DATE '1995-07-01' AND o_orderdate < DATE '1996-01-01'
    )
    SELECT custkey, side FROM (
      SELECT o_custkey AS custkey, 'h1_only' AS side FROM h1
      WHERE o_custkey NOT IN (SELECT o_custkey FROM h2)
      UNION ALL
      SELECT o_custkey AS custkey, 'h2_only' AS side FROM h2
      WHERE o_custkey NOT IN (SELECT o_custkey FROM h1)
    )
    """,
)
def setop_symmetric_diff_active_custkeys(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Symmetric difference with provenance: customers active (placed an
    order) in exactly ONE half of 1995, labeled with WHICH half — the
    churn/acquisition reconciliation between two snapshots of the same
    entity set (neither EXCEPT direction alone answers it; the naive
    FK diff between customer and orders is empty in any
    referentially-intact warehouse). Two anti joins over deduplicated
    key sets; both sides reduce before the join so the shuffle carries
    |keys|, not |rows|."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    h1 = (
        orders.filter(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1995-07-01")
        )
        .select("o_custkey")
        .distinct()
    )
    h2 = (
        orders.filter(
            (F.col("o_orderdate") >= "1995-07-01")
            & (F.col("o_orderdate") < "1996-01-01")
        )
        .select("o_custkey")
        .distinct()
    )
    a = h1.join(h2, "o_custkey", "left_anti").select(
        F.col("o_custkey").alias("custkey"), F.lit("h1_only").alias("side")
    )
    b = h2.join(h1, "o_custkey", "left_anti").select(
        F.col("o_custkey").alias("custkey"), F.lit("h2_only").alias("side")
    )
    return a.unionByName(b)


@_q(
    "setop_intersect_all_partkeys",
    """
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT l_partkey FROM lineitem WHERE l_orderkey % 2 = 0
      INTERSECT ALL
      SELECT l_partkey FROM lineitem WHERE l_orderkey % 2 = 1
    ) GROUP BY l_partkey
    """,
)
def setop_intersect_all_partkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag semantics: a part key appearing 5 times in
    the even-order half and 3 times in the odd half survives exactly
    min(5,3) = 3 times (the plain INTERSECT entry collapses to set
    semantics; real reconciliation workloads need the multiplicities).
    Spark's intersectAll implements the same min-multiplicity contract
    as ANSI INTERSECT ALL, so the plan is one co-partitioned aggregate
    per side + a join — never a row-by-row comparison; the output is
    re-aggregated per key to keep the grading deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    even = li.filter(F.col("l_orderkey") % 2 == 0).select("l_partkey")
    odd = li.filter(F.col("l_orderkey") % 2 == 1).select("l_partkey")
    return (
        even.intersectAll(odd)
        .groupBy("l_partkey")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


@_q(
    "setop_except_all_partkeys",
    """
    WITH diff AS (
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
      EXCEPT ALL
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
    )
    SELECT l_partkey, COUNT(*) AS surplus_multiplicity
    FROM diff GROUP BY l_partkey
    """,
)
def setop_except_all_partkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag (multiset) difference — EXCEPT ALL: for each part, how many
    MORE returned ('R') line items it has than accepted ('A') ones,
    keeping multiplicity (the plain EXCEPT entry collapses to set
    semantics; this is the other half of the standard). Spark's
    ``exceptAll`` implements the bag semantics natively (a count-
    difference generate under the hood — one shuffle per side on the
    key); the raw multiset result is then aggregated to (key,
    multiplicity) so the graded output is compact and order-free at any
    scale."""
    li = load_table(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    a = li.filter(F.col("l_returnflag") == "A").select("l_partkey")
    return (
        r.exceptAll(a)
        .groupBy("l_partkey")
        .agg(F.count("*").alias("surplus_multiplicity"))
    )
