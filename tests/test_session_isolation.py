"""A query call leaves the caller's session as it found it.

The engine runs inside a caller's vanilla session, so its readers and
registry entries must not write that session's SQL conf or leave names in
its catalog. The one write on a registry path is ``_tz_invariant``'s UTC
pin of ``spark.sql.session.timeZone``.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from large_csv_etl_spark.io import load_table
from large_csv_etl_spark.queries import all_queries
from large_csv_etl_spark.streaming import read_events_stream, run_bounded

_TZ = "spark.sql.session.timeZone"
_NANOS = "spark.sql.legacy.parquet.nanosAsLong"
_ARROW = "spark.sql.execution.arrow.pyspark.enabled"


def _views(spark):
    return sorted(t.name for t in spark.catalog.listTables())


def _events_dirs(tmp_path):
    """One events table per ``ts`` layout: TIMESTAMP(NANOS), which Spark
    reads as int64, and TIMESTAMP(MICROS) without isAdjustedToUTC, which
    it reads as TIMESTAMP_NTZ. The instants straddle a New York DST
    change."""
    micros = [1_710_050_400_123_456, 1_710_057_600_000_001, 0]
    dirs = {}
    for name, ts in {
        "nanos": pa.array([m * 1000 + 789 for m in micros], pa.timestamp("ns")),
        "micros": pa.array(micros, pa.timestamp("us")),
    }.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(
            pa.table({"event_id": pa.array([1, 2, 3], pa.int64()), "ts": ts}),
            d / "events.parquet",
            version="2.6",
        )
        dirs[name] = str(d)
    return dirs


def _run_all(spark, sf_dir, dirs, ckpt):
    """The reader calls, then the registry calls; each value as collected,
    and the session's conf and catalog after each half."""
    qs = all_queries()
    got = {
        name: sorted(load_table(spark, d, "events").collect())
        for name, d in dirs.items()
    }
    stream = read_events_stream(spark, sf_dir, glob="events.parquet").select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    drained = run_bounded(stream, "isolation_drain", ckpt, "append")
    got["drain"] = sorted(drained.collect())
    spark.catalog.dropTempView("isolation_drain")
    after_readers = (dict(spark.conf.getAll), _views(spark))
    for name in ("quantile_binning_decile", "streaming_hourly_tumbling"):
        got[name] = sorted(qs[name](spark, sf_dir).collect())
    after_registry = (dict(spark.conf.getAll), _views(spark))
    return got, after_readers, after_registry


def test_queries_leave_session_as_found(spark, sf_dir, tmp_path):
    dirs = _events_dirs(tmp_path)
    saved = {k: spark.conf.get(k, None) for k in (_TZ, _NANOS, _ARROW)}
    try:
        spark.conf.set(_TZ, "UTC")
        spark.conf.unset(_NANOS)
        want, _, _ = _run_all(spark, sf_dir, dirs, str(tmp_path / "ckpt_utc"))

        spark.conf.set(_TZ, "America/New_York")
        spark.conf.unset(_NANOS)
        spark.conf.set(_ARROW, "false")
        conf0, views0 = dict(spark.conf.getAll), _views(spark)
        got, after_readers, after_registry = _run_all(
            spark, sf_dir, dirs, str(tmp_path / "ckpt_ny")
        )
        assert after_readers == (conf0, views0)
        assert after_registry == ({**conf0, _TZ: "UTC"}, views0)
        assert got == want
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_concurrent_queries_match_serial_runs(spark, sf_dir):
    qs = all_queries()
    names = [
        "events_daily_active_users",
        "quantile_binning_decile",
        "join_not_in_null_semantics",
        "streaming_sliding_window",
    ]
    views0 = _views(spark)

    def run(name):
        return sorted(qs[name](spark, sf_dir).collect())

    serial = [run(n) for n in names]
    for _ in range(2):
        with ThreadPoolExecutor(max_workers=len(names)) as pool:
            assert list(pool.map(run, names)) == serial
    assert _views(spark) == views0


def test_release_blocks_converts_no_java_exception(spark, monkeypatch):
    """One call frees every persistent RDD without ending a py4j
    iteration on a Java NoSuchElementException, which PySpark converts
    (20-30 ms of CPU a call)."""
    import pyspark.errors.exceptions.captured as captured

    from large_csv_etl_spark.session import release_blocks

    spark.range(100).localCheckpoint(eager=True)
    spark.range(10).localCheckpoint(eager=True)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() >= 2
    converted = []
    real = captured.convert_exception
    monkeypatch.setattr(
        captured,
        "convert_exception",
        lambda e: converted.append(e) or real(e),
    )
    release_blocks(spark)
    assert converted == []
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
