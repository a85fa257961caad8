"""The benchmark's workloads: what one pass does and how it is checked.

A pass is one closed-loop round from one client thread: one
``run_pipeline`` call, or one query list built with the registry builders
and run with ``DataFrame.collect``. Each workload object gets its inputs
before the session starts (``prepare``) and checks every pass's outputs
against values fixed before any timing (``check``).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile
import time
from contextlib import nullcontext

import data

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Query lists and input sizes: small enough that set-up, a cold pass, a
# warm-up pass and several measured passes of one workload fit one run of
# the run budget (4 + 22 x 3 runs in 3420 s) on a 4-core host. Set-up
# and the cold pass alone take 15-25 s there.
LLM_OPS = [  # construction-heavy: eager checkpoints, driver collect, mapInArrow
    "sim_hubness_kocc",
]
STREAMING = [  # state store, micro-batch commits, applyInPandasWithState
    "streaming_user_totals",
]

# FIXTURES.md §2 row counts times QUERY_SF; data lines of the dirty CSV
QUERY_SF = 0.01
ETL_ROWS = 60_000


class NoTrace:
    """Stand-in tracer for untraced passes: no spans, no job groups."""

    def span(self, name: str, **attrs):
        return nullcontext()

    def group(self, name: str) -> None:
        pass

    def after_construct(self, spark) -> None:
        pass


def _canon():
    """The driver mimic's canonical types and rows (tools/drive_driver.py)."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import drive_driver

    return drive_driver


def digest(fields: list[tuple[str, str]], rows: list[dict]) -> str:
    """Order-insensitive hash of a result: sorted (column, canonical type)
    pairs plus the canonical sorted rows."""
    cols = sorted(name for name, _ in fields)
    h = hashlib.sha256(repr(sorted(fields)).encode())
    for row in _canon().canon_rows(rows, cols):
        h.update(repr(row).encode())
    return h.hexdigest()


class QueryMix:
    """A fixed list of registry queries over seeded FIXTURES.md §2 tables.

    At set-up every query's DuckDB oracle runs on the same tables; a pass
    result is correct when its digest equals the oracle's.
    """

    def __init__(self, queries: list[str]) -> None:
        self.queries = queries

    def prepare(self, work: str, seed: int) -> None:
        import duckdb

        from large_csv_etl_spark.queries import all_oracles

        canon = _canon()
        self.sf_dir = data.query_tables(work, seed, QUERY_SF)
        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for t in os.listdir(self.sf_dir):
                if t.endswith(".parquet"):
                    path = os.path.join(self.sf_dir, t)
                    con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{path}')")
            self.expected = {}
            for q in self.queries:
                tbl = con.execute(oracles[q]).arrow()
                fields = [(f.name, canon.arrow_canon(f.type)) for f in tbl.schema]
                self.expected[q] = digest(fields, tbl.to_pylist())
        finally:
            con.close()

    def run_pass(self, spark, tr) -> list:
        """Build and collect every query once; returns (query, df, rows or
        exception) triples. Blocks persisted by a query are released before
        the next, as in any long-lived multi-query session."""
        from large_csv_etl_spark.queries import all_queries
        from large_csv_etl_spark.session import release_blocks

        registry = all_queries()
        out = []
        for q in self.queries:
            try:
                tr.group(f"{q}:construct")
                with tr.span("queries.construct", query=q):
                    df = registry[q](spark, self.sf_dir)
                tr.after_construct(spark)
                tr.group(f"{q}:execute")
                with tr.span("queries.execute", query=q):
                    rows = df.collect()
                out.append((q, df, rows))
            except Exception as exc:  # a failed query is a counted failure
                out.append((q, None, exc))
            release_blocks(spark)
        return out

    def check(self, results) -> tuple[int, list[str]]:
        canon = _canon()
        bad = []
        for q, df, rows in results:
            if isinstance(rows, Exception):
                bad.append(f"{q}: {type(rows).__name__}: {rows}")
                continue
            fields = [(f.name, canon.spark_canon(f.dataType)) for f in df.schema.fields]
            if digest(fields, [r.asDict() for r in rows]) != self.expected[q]:
                bad.append(f"{q}: result differs from its DuckDB oracle")
        return len(results), bad


class EtlPipeline:
    """``run_pipeline`` on a seeded dirty CSV, checked against its ledger."""

    def prepare(self, work: str, seed: int) -> None:
        self.csv, self.ledger = data.dirty_csv(work, seed, ETL_ROWS)
        self.out = os.path.join(tempfile.gettempdir(), "transactions_table")

    def run_pass(self, spark, tr) -> list:
        from large_csv_etl_spark import pipeline

        shutil.rmtree(self.out, ignore_errors=True)
        try:
            with tr.span("pipeline.run_pipeline"):
                return [pipeline.run_pipeline(spark, self.csv, self.out)]
        except Exception as exc:  # a failed run is a counted failure
            return [exc]

    def probe(self, spark) -> dict[str, float]:
        """Isolation probes on the noop sink: the scan alone, then scan +
        transform, then scan + transform + upsert; each layer's figure is
        the increment over the previous probe."""
        from large_csv_etl_spark.io import CORRUPT_COL, read_transactions_csv, upsert_by_key
        from large_csv_etl_spark.transform import transform

        raw = read_transactions_csv(spark, self.csv)
        good = raw.filter(raw[CORRUPT_COL].isNull()).drop(CORRUPT_COL)
        plans = [raw, transform(good), upsert_by_key(transform(good), "transaction_id")]
        times = []
        for df in plans:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        return {
            "io.read_transactions_csv.noop_s": times[0],
            "transform.transform.noop_s": times[1] - times[0],
            "io.upsert_by_key.noop_s": times[2] - times[1],
        }

    def check(self, results) -> tuple[int, list[str]]:
        (report,) = results
        if isinstance(report, Exception):
            return 1, [f"run_pipeline: {type(report).__name__}: {report}"]
        led = self.ledger
        stats = report["stats"]
        got = {
            "success": report["success"],
            "original_rows": stats["original_rows"],
            "processed_rows": stats["processed_rows"],
            "table": self._table_summary(),
        }
        want = {
            "success": True,
            "original_rows": led["lines"],
            "processed_rows": led["rows"],
            "table": {
                "rows": led["rows"],
                "status_counts": led["status_counts"],
                "min_cents": led["min_cents"],
                "max_cents": led["max_cents"],
                "sum_cents": led["sum_cents"],
            },
        }
        bad = [f"{k}: got {got[k]!r}, want {want[k]!r}" for k in want if got[k] != want[k]]
        return 1, ["run_pipeline: " + "; ".join(bad)] if bad else []

    def _table_summary(self) -> dict:
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F

        spark = SparkSession.getActiveSession()
        rows = (
            spark.read.parquet(self.out)
            .groupBy("status")
            .agg(
                F.count("*").alias("n"),
                F.min("amount").alias("mn"),
                F.max("amount").alias("mx"),
                F.sum(F.round(F.col("amount") * 100).cast("long")).alias("cents"),
            )
            .collect()
        )
        return {
            "rows": sum(r.n for r in rows),
            "status_counts": {r.status: r.n for r in rows},
            "min_cents": round(min(r.mn for r in rows) * 100),
            "max_cents": round(max(r.mx for r in rows) * 100),
            "sum_cents": sum(r.cents for r in rows),
        }


WORKLOADS = {
    "etl_pipeline": EtlPipeline,
    "llm_ops_mix": lambda: QueryMix(LLM_OPS),
    "streaming_drains": lambda: QueryMix(STREAMING),
}
