"""Reference-parity transform pipeline (SURVEY.md §2a F1-F5, P1-P6, A5, A7).

The reference's DataProcessor.transform_chunk
(/root/reference/src/data_processor.py:145-186) is clean -> business rules ->
transform over pandas chunks. Here it is one lazy column-expression chain —
Catalyst fuses the filters, prunes columns, and runs it in whole-stage
codegen; there is no chunk concept (partitions are the chunks).

Documented semantic decisions (SURVEY.md §4.2):
- P4 rounding uses the scaled form ``bround(x*100, 0)/100`` to bit-match
  pandas ``round(2)`` (numpy rounds the scaled binary double half-even;
  both plain ``round`` (HALF_UP) and plain ``bround(x, 2)`` (half-even on
  the shortest decimal repr) diverge from pandas on tie literals).
- F3: the reference's ``fillna('unknown')`` is dead code (astype(str) turns
  NaN into the string "nan", /root/reference/src/data_processor.py:61); we
  implement the *intended* semantics — null status becomes "unknown".
- P2: ``processed_at`` is one constant per query, not per chunk
  (/root/reference/src/data_processor.py:122-124 stamps per-chunk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .io import violation_counts
from .schemas import OUTPUT_COLUMNS, REQUIRED_COLUMNS


def validate_schema(df: DataFrame) -> list[str]:
    """P6 — presence check (/root/reference/src/data_processor.py:22-36).
    Returns the list of missing required columns (empty == valid)."""
    return [c for c in REQUIRED_COLUMNS if c not in df.columns]


def clean(df: DataFrame) -> DataFrame:
    """F1-F3 (/root/reference/src/data_processor.py:38-72): drop null keys,
    coerce amount (cast -> null on malformed, then drop), fill null status.

    pandas-ingestion NA sentinels: pandas read_csv nulls a whole token
    list ("NA", "NULL", "n/a", "None", ...) in EVERY column, while the
    default Spark scan nulls only the empty string. For ``amount`` the
    outcome converges anyway (try_cast nulls the token, the row drops);
    for the string key/status columns the parity is opt-in —
    ``io.read_transactions_csv(na_tokens=True)`` applies the pandas
    token list post-read (and then a literal "NA" key drops here exactly
    like the reference; pinned against a captured reference run in
    tests/test_transform.py). The default scan keeps the tokens as
    legal string payloads."""
    return (
        df.na.drop(subset=["transaction_id", "user_id"])
        .filter(F.trim(F.col("transaction_id")) != "")
        .filter(F.trim(F.col("user_id")) != "")
        # try_cast, not cast: under ANSI mode (Spark 4 default) a plain
        # cast THROWS on malformed numerics; try_cast nulls them — the
        # exact analog of pandas to_numeric(errors='coerce').
        .withColumn("amount", F.col("amount").try_cast("double"))
        # NaN filter: pandas dropna(subset=['amount']) drops NaN as well as
        # None, but Spark's isNotNull() keeps NaN (it is a valid double) —
        # and a surviving NaN would then PASS `amount >= 0` (Spark orders
        # NaN greater than every number) where pandas drops the row.
        .filter(F.col("amount").isNotNull() & ~F.isnan(F.col("amount")))
        .withColumn(
            "status", F.coalesce(F.col("status").cast("string"), F.lit("unknown"))
        )
    )


def apply_business_rules(df: DataFrame) -> DataFrame:
    """F4-F5 (/root/reference/src/data_processor.py:74-106): non-negative
    amounts; drop cancelled case-insensitively AFTER trimming.

    Documented deviation: the reference compares ``str.lower() !=
    'cancelled'`` before any strip (:96), so a padded ``' Cancelled '``
    leaks through the filter, gets trimmed to ``'cancelled'`` by P1, and
    then fails the reference's own output validator
    (data_processor.py:233). We filter on the trimmed value — the
    validator-implied intent — which also makes the pipeline idempotent
    (found by hypothesis fuzzing)."""
    return df.filter(F.col("amount") >= 0).filter(
        F.lower(F.trim(F.col("status"))) != "cancelled"
    )


def apply_transformations(df: DataFrame) -> DataFrame:
    """P1-P5 (/root/reference/src/data_processor.py:108-143): normalize
    status, stamp processed_at, cast ids, round amount half-even, project."""
    return (
        df.withColumn("status", F.lower(F.trim(F.col("status"))))
        .withColumn(
            "processed_at",
            F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"),
        )
        .withColumn("transaction_id", F.col("transaction_id").cast("string"))
        .withColumn("user_id", F.col("user_id").cast("string"))
        # P4: pandas/numpy round(2) is rint(x*100)/100 — half-even on the
        # SCALED BINARY double. Plain bround(x, 2) rounds the shortest
        # decimal repr instead and diverges on .XX50 literals (139 of 314k
        # rows in the golden run, both directions). The scaled form is
        # bit-identical to pandas on the entire golden corpus.
        .withColumn("amount", F.bround(F.col("amount") * 100, 0) / 100)
        .select(*OUTPUT_COLUMNS)
    )


def transform(df: DataFrame) -> DataFrame:
    """Full pipeline — the Spark analog of transform_chunk
    (/root/reference/src/data_processor.py:145-186). Pure, lazy, composable;
    validate -> clean -> rules -> transform, exactly the reference's stage
    order (Catalyst will reorder the physical predicates anyway)."""
    missing = validate_schema(df)
    if missing:
        raise ValueError(f"missing required columns: {missing}")
    return apply_transformations(apply_business_rules(clean(df)))


# A5 report key -> the ``io.INTEGRITY_CHECKS`` predicate it counts. The
# three A5 invariants are A6 checks under the reference's A5 names.
FINAL_CHECKS = {
    "negatives": "negative_amounts",
    "cancelled": "cancelled_status",
    "null_processed_at": "null_processed_at",
}


def final_report(row) -> dict:
    """The A5 report from an aggregate row holding ``rows`` and the
    ``FINAL_CHECKS`` counts."""
    issues = {k: row[c] for k, c in FINAL_CHECKS.items() if row[c]}
    return {"is_valid": not issues, "rows": row["rows"], "issues": issues}


def validate_final_data(df: DataFrame) -> dict:
    """A5 existence predicates (/root/reference/src/data_processor.py:212-247)
    — all invariants in ONE aggregate scan instead of three .any() passes."""
    row = df.agg(
        *violation_counts(FINAL_CHECKS.values()), F.count("*").alias("rows")
    ).first()
    return final_report(row)


def processing_stats(input_df: DataFrame, output_df: DataFrame) -> dict:
    """A7 row accounting (/root/reference/src/data_processor.py:188-210)."""
    original = input_df.count()
    processed = output_df.count()
    return {
        "original_rows": original,
        "processed_rows": processed,
        "rows_removed": original - processed,
        "success": True,
    }


def observed_pipeline(df: DataFrame):
    """A7 row accounting with ZERO extra scans: attach ``Observation``
    metrics to the input and the transformed output, so the counts ride
    the ONE action that materializes the plan (the sink write) instead of
    two dedicated ``count()`` passes over input and output. At 100 TB the
    difference is two full re-reads of the fact table per pipeline run.

    Returns ``(out_df, fetch)`` — run your action on ``out_df`` first,
    then ``fetch()`` yields the same dict shape as ``processing_stats``.
    """
    from pyspark.sql import Observation

    obs_in = Observation("a7_rows_in")
    obs_out = Observation("a7_rows_out")
    observed = df.observe(obs_in, F.count(F.lit(1)).alias("n"))
    out = transform(observed).observe(obs_out, F.count(F.lit(1)).alias("n"))

    def fetch() -> dict:
        original = obs_in.get["n"]
        processed = obs_out.get["n"]
        return {
            "original_rows": original,
            "processed_rows": processed,
            "rows_removed": original - processed,
            "success": True,
        }

    return out, fetch
