"""Scalar function coverage (§2a P1/P3/P4 scaled + §2b string/date/math/json).

Cross-engine determinism notes: only functions with identical IEEE/ANSI
semantics in Spark and DuckDB appear in oracle-paired queries (abs/ceil/
floor/sqrt are correctly-rounded; lower/trim/substring/concat are ANSI;
extract() date parts are ANSI). Transcendentals (exp/ln/pow) are libm-
dependent and deliberately excluded from hash-compared outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from .helpers import registry

QUERIES, ORACLES, _q = registry()


@_q(
    "scalar_string_functions",
    """
    SELECT c_custkey,
           LOWER(c_name) AS name_lower,
           UPPER(c_mktsegment) AS seg_upper,
           LENGTH(c_name) AS name_len,
           SUBSTRING(c_name, 1, 8) AS name_prefix,
           CONCAT(c_mktsegment, '#', CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           REPLACE(LOWER(c_mktsegment), 'e', '_') AS seg_replaced,
           TRIM(c_name) AS name_trimmed
    FROM customer
    """,
)
def scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String suite: lower/upper/length/substring/concat/replace/trim
    (P1/P3 family, /root/reference/src/data_processor.py:120,127-130)."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.lower("c_name").alias("name_lower"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat(
            F.col("c_mktsegment"), F.lit("#"), F.col("c_nationkey").cast("string")
        ).alias("seg_nation"),
        F.replace(F.lower("c_mktsegment"), F.lit("e"), F.lit("_")).alias(
            "seg_replaced"
        ),
        F.trim("c_name").alias("name_trimmed"),
    )


@_q(
    "scalar_date_functions",
    """
    SELECT o_orderkey,
           EXTRACT(year FROM o_orderdate) AS order_year,
           EXTRACT(month FROM o_orderdate) AS order_month,
           EXTRACT(day FROM o_orderdate) AS order_day,
           EXTRACT(quarter FROM o_orderdate) AS order_quarter,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
           DATEDIFF('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
             AS days_since_epoch_start
    FROM orders
    """,
)
def scalar_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time suite: extract parts, truncation, day difference."""
    df = load_table(spark, sf_dir, "orders")
    return df.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("order_day"),
        F.quarter("o_orderdate").cast("bigint").alias("order_quarter"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1995-01-01").cast("date"),
        ).cast("bigint").alias("days_since_epoch_start"),
    )


@_q(
    "scalar_math_functions",
    """
    SELECT l_orderkey, l_linenumber,
           ABS(l_extendedprice - 1000) AS abs_diff,
           CAST(CEIL(l_quantity / 7.0) AS BIGINT) AS qty_ceil_bucket,
           CAST(FLOOR(l_extendedprice / 100.0) AS BIGINT) AS price_floor_bucket,
           SQRT(l_quantity) AS qty_sqrt,
           CAST(l_quantity AS BIGINT) % 5 AS qty_mod,
           GREATEST(l_discount, l_tax) AS max_rate,
           LEAST(l_discount, l_tax) AS min_rate
    FROM lineitem
    """,
)
def scalar_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math suite — all operations correctly-rounded IEEE (no libm)."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 1000).alias("abs_diff"),
        F.ceil(F.col("l_quantity") / 7.0).cast("bigint").alias("qty_ceil_bucket"),
        F.floor(F.col("l_extendedprice") / 100.0).cast("bigint").alias(
            "price_floor_bucket"
        ),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_quantity").cast("bigint") % 5).alias("qty_mod"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
    )


@_q(
    "scalar_conditional_case",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN 'large'
                WHEN o_totalprice >= 100000 THEN 'medium'
                ELSE 'small' END AS size_bucket,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_finished,
           COALESCE(NULLIF(o_orderpriority, '4-NOT SPECIFIED'), 'UNSPECIFIED')
             AS priority_clean
    FROM orders
    """,
)
def scalar_conditional_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/WHEN, NULLIF, COALESCE (F3's coalesce pattern,
    /root/reference/src/data_processor.py:61)."""
    df = load_table(spark, sf_dir, "orders")
    return df.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "large")
        .when(F.col("o_totalprice") >= 100000, "medium")
        .otherwise("small")
        .alias("size_bucket"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("is_finished"),
        F.coalesce(
            F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED")),
            F.lit("UNSPECIFIED"),
        ).alias("priority_clean"),
    )


@_q(
    "scalar_round_2dp",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(CAST(CAST(CAST(l_extendedprice * (1 - l_discount)
                                     AS DECIMAL(30,4)) AS DOUBLE) / 7
                           AS DECIMAL(30,4)), 2) AS DOUBLE) AS rounded_price
    FROM lineitem
    """,
)
def scalar_round_2dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rounding coverage (P4 family,
    /root/reference/src/data_processor.py:133).

    Rounding a raw double at 2dp is NOT cross-engine deterministic on exact
    .005 ties (Spark rounds the shortest decimal repr HALF_UP; DuckDB rounds
    the binary double), so the round happens in the DECIMAL domain on both
    sides: identical double quotient -> DECIMAL(30,4) -> ROUND(...,2)
    (HALF_UP on positives in both engines) -> DOUBLE. The reference's
    pandas half-even rounding is a different beast again — the engine
    matches it with the scaled form bround(x*100,0)/100, asserted in
    tests/test_transform*.py (DuckDB has no half-even round, hence the
    decimal HALF_UP contract for this oracle pair)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = (
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(30,4)")
        .cast("double")
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round((disc_price / 7).cast("decimal(30,4)"), 2)
        .cast("double")
        .alias("rounded_price"),
    )


@_q(
    "scalar_array_functions",
    """
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
           ROUND(CAST(list_min(embedding) AS DOUBLE), 6) AS min_val,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT)
             AS n_positive,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE))), 6) AS val_sum
    FROM embeddings
    """,
)
def scalar_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function suite over the FLOAT[] embedding column: element
    access, min/max, filtered length, higher-order sum — all JVM-side
    (element_at / array_max / filter / aggregate)."""
    emb = load_table(spark, sf_dir, "embeddings")
    val_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_val"),
        F.size(F.filter("embedding", lambda x: x > 0))
        .cast("bigint")
        .alias("n_positive"),
        F.round(val_sum, 6).alias("val_sum"),
    )


@_q(
    "scalar_pii_mask",
    """
    SELECT c_custkey,
           REGEXP_REPLACE(c_name, '[0-9]', '*', 'g') AS masked_full,
           CONCAT(
             REGEXP_REPLACE(SUBSTR(c_name, 1, LENGTH(c_name) - 3), '[0-9]', '*', 'g'),
             SUBSTR(c_name, LENGTH(c_name) - 2)
           ) AS masked_keep_last3,
           CAST(LEN(regexp_extract_all(c_name, '[0-9]')) AS BIGINT) AS n_redacted
    FROM customer
    """,
)
def scalar_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction plumbing: mask every digit of an identifier,
    mask all-but-last-3 (the usual "****1234" display form), and count
    redacted characters. All JVM regex expressions — the pattern set is
    deliberately RE2-compatible (no lookaround) so the identical regex runs
    on both engines; at 100 TB this is a pure map stage with full
    column-pruned pushdown and no shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    name_len = F.length("c_name")
    return cust.select(
        "c_custkey",
        F.regexp_replace("c_name", "[0-9]", "*").alias("masked_full"),
        F.concat(
            F.regexp_replace(
                F.substring(F.col("c_name"), 1, name_len - 3), "[0-9]", "*"
            ),
            F.substring(F.col("c_name"), name_len - 2, 3),
        ).alias("masked_keep_last3"),
        F.regexp_count(F.col("c_name"), F.lit("[0-9]"))
        .cast("bigint")
        .alias("n_redacted"),
    )


@_q(
    "scalar_hash_functions",
    """
    SELECT doc_id,
           MD5(text) AS h_md5,
           SHA256(text) AS h_sha256,
           LENGTH(MD5(text)) AS md5_len
    FROM documents
    """,
)
def scalar_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic-hash scalar surface (md5 / sha-256) — the
    fingerprinting primitives every dedup/sharding/split operator here
    builds on, graded directly so an engine-level hash disagreement
    (encoding, hex case) can never hide inside a larger plan. Both
    engines hash the same utf-8 bytes and emit lowercase hex."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("h_md5"),
        F.sha2(F.col("text"), 256).alias("h_sha256"),
        F.length(F.md5("text")).cast("bigint").alias("md5_len"),
    )


@_q(
    "scalar_regexp_functions",
    r"""
    SELECT doc_id,
           regexp_extract(text, '([a-z]+)[0-9]+', 1) AS first_word_stem,
           LEN(regexp_extract_all(text, '[0-9]+')) AS n_number_runs,
           regexp_replace(TRIM(text), '\s+', '_', 'g') AS snake_text_head
    FROM (
      SELECT doc_id, SUBSTR(text, 1, 40) AS text
      FROM documents WHERE TRIM(text) <> ''
    )
    """,
)
def scalar_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar pack: capture-group extraction, match counting via
    extract-all, and global replacement — on a fixed 40-char prefix so
    the row stays cheap. All RE2-compatible patterns (no lookaround) so
    the identical regex runs on both engines; pure map stage, no
    shuffle. Note the cross-engine trap this pins: Spark's
    regexp_extract returns '' on no-match (as does DuckDB's), but group
    index and flag conventions differ by engine — the oracle spells the
    DuckDB 'g' flag where Spark's regexp_replace is global by
    default."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    head = F.substring(F.col("text"), 1, 40)
    return docs.select(
        "doc_id",
        F.regexp_extract(head, r"([a-z]+)[0-9]+", 1).alias("first_word_stem"),
        F.size(F.expr("regexp_extract_all(substring(text, 1, 40), '[0-9]+', 0)"))
        .cast("bigint")
        .alias("n_number_runs"),
        F.regexp_replace(F.trim(head), r"\s+", "_").alias("snake_text_head"),
    )


@_q(
    "scalar_bitwise_functions",
    """
    SELECT o_orderkey,
           o_orderkey & 255 AS band,
           o_orderkey | 4096 AS bor,
           xor(o_orderkey, 21845) AS bxor,
           CAST(o_orderkey << 2 AS BIGINT) AS shl,
           CAST(o_orderkey >> 3 AS BIGINT) AS shr,
           CAST(bit_count(o_orderkey) AS BIGINT) AS popcount
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def scalar_bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar pack — AND/OR/XOR masks, shifts, popcount: the
    primitives behind hash partitioning, bitmap flags, SimHash Hamming
    work, and bucket math, proven equal across engines on real keys
    (completes the scalar-function parity suite alongside the
    string/date/math/array/regexp packs)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 97 == 0
    )
    k = F.col("o_orderkey")
    return orders.select(
        "o_orderkey",
        k.bitwiseAND(255).alias("band"),
        k.bitwiseOR(4096).alias("bor"),
        k.bitwiseXOR(21845).alias("bxor"),
        F.expr("CAST(shiftleft(o_orderkey, 2) AS BIGINT)").alias("shl"),
        F.expr("CAST(shiftright(o_orderkey, 3) AS BIGINT)").alias("shr"),
        F.bit_count(k).cast("bigint").alias("popcount"),
    )


@_q(
    "scalar_checksum_functions",
    """
    WITH base AS (
      SELECT o_orderkey,
             lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS acct
      FROM orders WHERE o_orderkey <= 2000
    ), digits AS (
      SELECT o_orderkey, acct,
             list_transform(
               generate_series(1, 10),
               i -> CAST(substr(acct, CAST(i AS INTEGER), 1) AS BIGINT)
             ) AS ds
      FROM base
    ), luhn AS (
      SELECT o_orderkey, acct, ds,
             -- Luhn: double every second digit from the RIGHT; in an
             -- even-length (10-char) string those are the ODD 1-based
             -- positions from the left; subtract 9 above 9
             list_sum(list_transform(
               generate_series(1, 10),
               i -> CASE WHEN CAST(i AS INTEGER) % 2 = 0
                         THEN ds[CAST(i AS INTEGER)]
                         ELSE CASE WHEN 2 * ds[CAST(i AS INTEGER)] > 9
                                   THEN 2 * ds[CAST(i AS INTEGER)] - 9
                                   ELSE 2 * ds[CAST(i AS INTEGER)] END
                    END)) AS luhn_sum
      FROM digits
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_accounts,
           CAST(COUNT(CASE WHEN luhn_sum % 10 = 0 THEN 1 END) AS BIGINT)
             AS n_luhn_valid,
           CAST(SUM((10 - (luhn_sum % 10)) % 10) AS BIGINT)
             AS check_digit_sum,
           CAST(SUM(CAST(acct AS BIGINT) % 97) AS BIGINT) AS mod97_sum
    FROM luhn
    """,
)
def scalar_checksum_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validation scalar pack — the Luhn (ISO/IEC 7812, every
    card number) and mod-97 (ISO 7064, IBAN family) arithmetic as
    portable declarative expressions, exercised over zero-padded
    10-digit account strings derived from order keys: how many pass
    Luhn as-is, the sum of the check digits Luhn WOULD append, and the
    mod-97 residue sum. Both checksums are pure integer digit
    arithmetic (position-indexed list transforms — no UDF, fully
    codegen'd in Spark, list_transform in DuckDB), which is the point:
    PII-adjacent validity screens belong JVM-side at 100 TB, not in a
    Python loop. Bounded to 2,000 keys because the semantics are
    per-value, not per-corpus."""
    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select(
            "o_orderkey",
            F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias(
                "acct"
            ),
        )
    )
    digits = base.select(
        "o_orderkey",
        "acct",
        F.expr(
            "transform(sequence(1, 10),"
            " i -> CAST(substring(acct, i, 1) AS BIGINT))"
        ).alias("ds"),
    )
    luhn = digits.select(
        "acct",
        F.expr(
            "aggregate(sequence(1, 10), 0L, (acc, i) -> acc +"
            " CASE WHEN i % 2 = 0 THEN ds[i - 1]"
            "      ELSE CASE WHEN 2 * ds[i - 1] > 9"
            "                THEN 2 * ds[i - 1] - 9"
            "                ELSE 2 * ds[i - 1] END END)"
        ).alias("luhn_sum"),
    )
    return luhn.agg(
        F.count("*").cast("bigint").alias("n_accounts"),
        F.count(F.when(F.col("luhn_sum") % 10 == 0, 1))
        .cast("bigint")
        .alias("n_luhn_valid"),
        F.sum((10 - (F.col("luhn_sum") % 10)) % 10)
        .cast("bigint")
        .alias("check_digit_sum"),
        F.sum(F.col("acct").cast("bigint") % 97)
        .cast("bigint")
        .alias("mod97_sum"),
    )
