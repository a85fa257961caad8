"""E7 end-to-end pipeline tests: dirty CSV -> engine -> parquet table,
including the BASELINE.md golden run (FIXTURES.md §3 generator, seed 42:
500,000 rows in -> exactly 314,214 loaded, bit-matching the reference).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from large_csv_etl_spark.pipeline import main, run_pipeline

HEADER = "transaction_id,user_id,amount,timestamp,status\n"


def _write_small_csv(path):
    rows = [
        "T1,U1,100.50,2025-01-01T00:00:00,Completed",
        ",U2,10.00,2025-01-01T00:00:00,PENDING",           # blank id -> drop
        "T3,U3,not_a_number,2025-01-01T00:00:00,PENDING",  # malformed -> drop
        "T4,U4,-5.00,2025-01-01T00:00:00,PENDING",         # negative -> drop
        "T5,U5,20.00,2025-01-01T00:00:00,CANCELLED",       # cancelled -> drop
        "T6,U6,2.675,2025-01-01T00:00:00,Failed",          # tie -> 2.68
        "T6,U6,9.99,2025-01-02T00:00:00,Failed",           # dup id -> 1 survivor
    ]
    path.write_text(HEADER + "\n".join(rows) + "\n")


def test_run_pipeline_small(spark, tmp_path):
    csv = tmp_path / "txns.csv"
    out = tmp_path / "table"
    _write_small_csv(csv)

    report = run_pipeline(spark, str(csv), str(out))
    assert report["success"], report
    assert report["final_validation"]["is_valid"]
    assert report["integrity"]["is_valid"]
    assert report["stats"]["original_rows"] == 7

    loaded = spark.read.parquet(str(out))
    ids = {r.transaction_id for r in loaded.collect()}
    assert ids == {"T1", "T6"}  # T6 deduped to one row (S6)
    assert loaded.count() == 2
    t6 = loaded.filter(F.col("transaction_id") == "T6").first()
    assert t6.amount in (2.68, 9.99)  # exactly one survivor
    # the survivor is one whole input line: columns are never mixed
    # across the duplicates
    assert (t6.amount, t6.timestamp[:10]) in {
        (2.68, "2025-01-01"),
        (9.99, "2025-01-02"),
    }


def test_validate_table_matches_both_validators(spark):
    """The fused one-scan report equals the two public validators key for
    key, on a table violating every check and on a clean one."""
    from large_csv_etl_spark.io import validate_data_integrity
    from large_csv_etl_spark.pipeline import validate_table
    from large_csv_etl_spark.transform import validate_final_data

    df = spark.createDataFrame(
        [
            ("T1", "U1", 10.0, "completed", "p"),
            ("T2", "U2", -1.0, "pending", "p"),  # negative
            ("T3", "U3", 5.0, "Cancelled", "p"),  # cancelled
            ("T4", "U4", 5.0, "failed", None),  # null processed_at
            (None, None, None, None, "p"),  # null ids, amount, status
            ("T6", None, -2.0, "CANCELLED", None),
        ],
        "transaction_id string, user_id string, amount double,"
        " status string, processed_at string",
    )
    final, integrity = validate_table(df)
    separate = validate_final_data(df)
    assert final == separate
    assert list(final["issues"]) == list(separate["issues"])
    assert integrity == validate_data_integrity(df)
    assert final == {
        "is_valid": False,
        "rows": 6,
        "issues": {"negatives": 2, "cancelled": 2, "null_processed_at": 2},
    }
    assert integrity == {
        "is_valid": False,
        "issues": {
            "null_transaction_id": 1,
            "null_user_id": 2,
            "null_amount": 1,
            "null_status": 1,
            "null_processed_at": 2,
            "negative_amounts": 2,
            "cancelled_status": 2,
        },
    }

    clean = df.filter(F.col("transaction_id") == "T1")
    fused = validate_table(clean)
    assert fused == (validate_final_data(clean), validate_data_integrity(clean))
    assert fused == (
        {"is_valid": True, "rows": 1, "issues": {}},
        {"is_valid": True, "issues": {}},
    )


def test_run_pipeline_post_write_reads_back_once(spark, tmp_path, monkeypatch):
    """After write_table returns, run_pipeline reads the written table
    back in one pass: at most 2 Spark jobs (the aggregate's map stage and
    its result) and exactly 1 stage that reads input. The jobs are counted
    through the status tracker under a job group set when the write
    returns."""
    from large_csv_etl_spark import pipeline

    sc = spark.sparkContext
    group = f"post_write_{tmp_path.name}"
    write = pipeline.write_table

    def write_then_tag(*args, **kwargs):
        write(*args, **kwargs)
        sc.setJobGroup(group, group)

    monkeypatch.setattr(pipeline, "write_table", write_then_tag)
    csv = tmp_path / "txns.csv"
    _write_small_csv(csv)
    try:
        report = run_pipeline(spark, str(csv), str(tmp_path / "table"))
    finally:
        sc._jsc.clearJobGroup()
    assert report["success"], report
    assert report["stats"]["processed_rows"] == 2

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, jobs
    store = jsc.statusStore()
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    scans = [s for s in stages if store.lastStageAttempt(s).inputBytes() > 0]
    assert len(scans) == 1, (jobs, stages)


def test_cli_exit_code_and_output(spark, tmp_path, capsys):
    csv = tmp_path / "txns.csv"
    out = tmp_path / "table"
    _write_small_csv(csv)
    rc = main([str(csv), "--output-path", str(out), "--partitions", "2"])
    assert rc == 0
    assert "stats" in capsys.readouterr().out
    assert spark.read.parquet(str(out)).count() == 2


def _golden_csv(path, n=500_000):
    """FIXTURES.md §3 generator — stdlib random, seed 42, exact call order."""
    rnd = random.Random(42)
    with open(path, "w") as f:
        f.write(HEADER)
        for i in range(n):
            r = rnd.random()
            tid = f"T{i:08d}" if r <= 0.995 else ""
            uid = f"U{rnd.randint(1, 50000):06d}"
            if r < 0.01:
                amount = "not_a_number"
            elif r < 0.05:
                amount = f"{-rnd.uniform(1, 500):.4f}"
            else:
                amount = f"{rnd.uniform(0.01, 2000):.4f}"
            ts = (
                f"2025-{rnd.randint(1, 12):02d}-{rnd.randint(1, 28):02d}"
                f"T{rnd.randint(0, 23):02d}:00:00"
            )
            status = rnd.choice(
                ["Completed", "PENDING", "cancelled", "Failed", "refunded",
                 "CANCELLED"]
            )
            f.write(f"{tid},{uid},{amount},{ts},{status}\n")


@pytest.mark.slow
def test_golden_500k_matches_reference_run(spark, tmp_path):
    """Differential golden test: the REFERENCE pipeline was executed on
    this exact CSV (generator above, seed 42) on 2026-08-13 —
    `PYTHONPATH=/root/reference:/root/reference/src python
    /root/reference/src/etl_manager.py golden.csv --db-path out.db` —
    and loaded exactly these values into SQLite. The engine must match
    row-for-row. (FIXTURES.md §3; supersedes the unreproducible 315,015
    figure from the round-1 throwaway generator.)"""
    csv = tmp_path / "golden.csv"
    out = tmp_path / "golden_table"
    _golden_csv(csv)

    report = run_pipeline(spark, str(csv), str(out))
    assert report["success"], report
    assert report["stats"]["original_rows"] == 500_000
    assert report["stats"]["processed_rows"] == 314_214  # reference: 314,214

    loaded = spark.read.parquet(str(out))
    counts = {
        r.status: r["count"] for r in loaded.groupBy("status").count().collect()
    }
    assert counts == {  # reference SQLite GROUP BY status
        "failed": 78_655,
        "completed": 78_634,
        "pending": 78_629,
        "refunded": 78_296,
    }
    agg = loaded.agg(
        F.min("amount").alias("mn"),
        F.max("amount").alias("mx"),
        F.sum("amount").alias("total"),
        F.sum(F.when(F.col("amount") < 0, 1)).alias("neg"),
    ).first()
    assert agg.mn == 0.01  # reference MIN(amount)
    assert agg.mx == 1999.98  # reference MAX(amount)
    # reference ROUND(SUM(amount),2) = 313,919,271.51; accumulation order
    # differs across engines, so compare with a cent of slack
    assert abs(agg.total - 313_919_271.51) < 0.01
    assert agg.neg is None


def test_export_training_dataset_layout(spark, sf_dir, tmp_path):
    """(split, shard) partitioned export: partition pruning serves a
    trainer's split/shard read; every cell is a single file; row count
    matches the manifest."""
    from pathlib import Path

    from large_csv_etl_spark.pipeline import export_training_dataset
    from large_csv_etl_spark.queries.sampling import QUERIES as SQ

    out = str(tmp_path / "export")
    export_training_dataset(spark, sf_dir, out)
    back = spark.read.parquet(out)
    expect = SQ["export_training_manifest"](spark, sf_dir).count()
    assert back.count() == expect > 0
    # partition dirs exist and each cell holds exactly one data file
    cells = [
        d for d in Path(out).glob("split=*/shard=*") if d.is_dir()
    ]
    assert cells
    for c in cells:
        files = [f for f in c.glob("*.parquet")]
        assert len(files) == 1, (c, files)
    # partition pruning: reading one split touches only that directory
    train = spark.read.parquet(out).filter("split = 'train'")
    got_splits = {r.split for r in train.select("split").distinct().collect()}
    assert got_splits == {"train"}
