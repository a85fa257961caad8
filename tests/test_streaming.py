"""Batch/stream parity: the streaming plans over a bounded file source
must produce exactly the batch answers (same windows, same counts, same
session boundaries).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from large_csv_etl_spark.queries.events import QUERIES as EVENT_QUERIES
from large_csv_etl_spark.streaming import (
    dau_stream,
    hourly_tumbling_stream,
    read_events_stream,
    run_bounded,
    sessionization_stream,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def stream_source(tmp_path_factory):
    # stream sources read directories; copy the single fixture file in
    src = tmp_path_factory.mktemp("events_src")
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-000.parquet")
    return str(src)


def test_hourly_tumbling_stream_matches_batch(spark, stream_source, tmp_path):
    events = read_events_stream(spark, stream_source)
    got = run_bounded(
        hourly_tumbling_stream(events), "hourly_mem", str(tmp_path / "ckpt")
    )
    batch = EVENT_QUERIES["events_hourly_tumbling"](spark, SF_DIR)
    g = {
        (r.hour_start, r.event_type): (r.n_events, r.total_value)
        for r in got.collect()
    }
    b = {
        (r.hour_start, r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert g == b


def test_sessionization_stream_matches_batch(spark, stream_source, tmp_path):
    events = read_events_stream(spark, stream_source)
    got = run_bounded(
        sessionization_stream(events), "sessions_mem", str(tmp_path / "ckpt")
    )
    batch = EVENT_QUERIES["events_sessionization"](spark, SF_DIR)
    # session identity: (user, first-event ts); size and last-event ts must
    # agree between session_window and the batch lag+cumsum emulation
    g = {
        (r.user_id, r.session_start): (r.n_events, r.session_end)
        for r in got.collect()
    }
    b = {
        (r.user_id, r.session_start): (r.n_events, r.session_end)
        for r in batch.collect()
    }
    assert g == b


def test_dau_stream_matches_batch_approx(spark, stream_source, tmp_path):
    events = read_events_stream(spark, stream_source)
    got = {
        r.day_start: r.dau_approx
        for r in run_bounded(
            dau_stream(events), "dau_mem", str(tmp_path / "ckpt")
        ).collect()
    }
    exact = {
        r.day_start: r.dau
        for r in EVENT_QUERIES["events_daily_active_users"](spark, SF_DIR).collect()
    }
    assert got.keys() == exact.keys()
    for day, est in got.items():
        assert abs(est - exact[day]) <= max(0.05 * exact[day], 2), day


def test_transactions_etl_stream_matches_batch(spark, tmp_path):
    """The E7 pipeline run incrementally (two files arriving in sequence)
    must produce exactly the batch transform's rows."""
    from large_csv_etl_spark.io import CORRUPT_COL, read_transactions_csv
    from large_csv_etl_spark.streaming import transactions_etl_stream
    from large_csv_etl_spark.transform import transform

    src = tmp_path / "incoming"
    src.mkdir()
    header = "transaction_id,user_id,amount,timestamp,status\n"
    (src / "a.csv").write_text(
        header
        + "T1,U1,10.005,2025-01-01T00:00:00,Completed\n"
        + "T2,U2,bad,2025-01-01T00:00:00,PENDING\n"
    )
    (src / "b.csv").write_text(
        header
        + "T3,U3,-4,2025-01-01T00:00:00,PENDING\n"
        + "T4,U4,7.25, 2025-01-01T00:00:00,CANCELLED\n"
        + "T5,U5,2.675,2025-01-01T00:00:00,Failed\n"
    )
    out = tmp_path / "table"
    q = transactions_etl_stream(
        spark, str(src), str(out), str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    raw = read_transactions_csv(spark, str(src))
    batch = transform(raw.filter(raw[CORRUPT_COL].isNull()).drop(CORRUPT_COL))
    got = {
        (r.transaction_id, r.amount, r.status)
        for r in spark.read.parquet(str(out)).collect()
    }
    want = {
        (r.transaction_id, r.amount, r.status) for r in batch.collect()
    }
    assert got == want
    assert {t[0] for t in got} == {"T1", "T5"}


def test_dedup_stream_drops_redelivery(spark, tmp_path):
    from large_csv_etl_spark.streaming import dedup_stream

    # simulate a replayed source: the same file delivered twice
    src = tmp_path / "dup_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-000.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-001.parquet")
    events = read_events_stream(spark, str(src))
    got = run_bounded(
        dedup_stream(events),
        "dedup_mem",
        str(tmp_path / "ckpt_dedup"),
        output_mode="append",
    )
    n_distinct = (
        spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    )  # event_id unique in fixture
    assert got.count() == n_distinct


def test_stream_stream_join_matches_batch(spark, stream_source, tmp_path):
    from large_csv_etl_spark.io import load_table
    from large_csv_etl_spark.streaming import click_purchase_join_stream

    events = read_events_stream(spark, stream_source)
    got = run_bounded(
        click_purchase_join_stream(events),
        "ssjoin_mem",
        str(tmp_path / "ckpt_ss"),
        output_mode="append",
    )
    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = clicks.join(
        purchases,
        F.expr(
            """c_user = p_user AND purchase_ts > click_ts
            AND purchase_ts <= click_ts + INTERVAL 1 HOUR"""
        ),
    )
    g = sorted(
        (r.click_id, r.purchase_ts, r.purchase_value) for r in got.collect()
    )
    b = sorted(
        (r.click_id, r.purchase_ts, r.purchase_value) for r in batch.collect()
    )
    assert g == b


def test_user_totals_stream_matches_batch(spark, stream_source, tmp_path):
    from large_csv_etl_spark.io import load_table
    from large_csv_etl_spark.streaming import user_totals_stream

    events = read_events_stream(spark, stream_source)
    got = run_bounded(
        user_totals_stream(events),
        "totals_mem",
        str(tmp_path / "ckpt_totals"),
        output_mode="update",
    )
    # single micro-batch -> one update per user with the final totals;
    # integer-cent state makes the comparison EXACT, no float tolerance
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast(
                    "bigint"
                )
            ).alias("total_fp"),
        )
    )
    g = {r.user_id: (r.n_events, r.total_fp) for r in got.collect()}
    b = {r.user_id: (r.n_events, r.total_fp) for r in batch.collect()}
    assert g == b


def _write_events(path, rows, unit="us", tz=None):
    """Write events rows ``(event_id, epoch_ns, user_id, event_type, value)``
    with ``ts`` as parquet TIMESTAMP(MICROS or NANOS). Without ``tz`` it
    reads as TIMESTAMP_NTZ (MICROS) or, under nanosAsLong, int64 (NANOS)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, ts, users, types, values = zip(*rows)
    if unit == "us":
        ts = [t // 1000 for t in ts]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(ts, pa.timestamp(unit, tz)),
                "user_id": pa.array(users, pa.int64()),
                "event_type": pa.array(types, pa.string()),
                "value": pa.array(values, pa.float64()),
                "props": pa.array(["{}"] * len(ids), pa.string()),
            }
        ),
        str(path),
        version="2.6",
    )


_HOUR_NS = 3600 * 10**9
_T0_NS = 1_709_251_200 * 10**9  # 2024-03-01 00:00:00 UTC


def test_user_totals_stream_keeps_row_behind_watermark(spark, tmp_path):
    """Two micro-batches (one file each); the second file holds a row 5 h
    behind the watermark the first batch set. Under NoTimeout the stateful
    operator filters no late rows, so the final per-user totals equal the
    batch GROUP BY over both files, late row included."""
    import os
    from datetime import datetime

    from large_csv_etl_spark.streaming import start_bounded, user_totals_stream

    src = tmp_path / "src"
    src.mkdir()
    late_ns = _T0_NS + 5 * _HOUR_NS  # the watermark after batch 0 is 10:00
    _write_events(
        src / "part-0.parquet",
        [
            (1, _T0_NS + 10 * _HOUR_NS, 1, "click", 1.25),
            (2, _T0_NS + 12 * _HOUR_NS, 2, "purchase", 3.10),
            (3, _T0_NS + 11 * _HOUR_NS, 1, "view", None),
        ],
        tz="UTC",
    )
    _write_events(
        src / "part-1.parquet",
        [
            (4, late_ns, 1, "purchase", 2.05),
            (5, _T0_NS + 12 * _HOUR_NS + _HOUR_NS // 2, 2, "click", -0.5),
        ],
        tz="UTC",
    )
    # the file source takes the oldest file first
    os.utime(src / "part-0.parquet", ns=(10**12, 10**12))
    os.utime(src / "part-1.parquet", ns=(2 * 10**12, 2 * 10**12))
    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_bounded(
        user_totals_stream(events),
        "late_totals_mem",
        str(tmp_path / "ckpt"),
        output_mode="update",
    )
    q.awaitTermination()
    data_batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert [p.numInputRows for p in data_batches] == [3, 2]
    # the second file really was read behind the watermark
    wm = datetime.fromisoformat(data_batches[1].eventTime["watermark"])
    assert int(wm.timestamp()) * 10**9 - late_ns == 5 * _HOUR_NS

    final = (
        spark.table("late_totals_mem")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n"),
            F.max_by("total_fp", "n_events").alias("fp"),
        )
    )
    batch = (
        spark.read.parquet(str(src))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast(
                    "bigint"
                )
            ).alias("fp"),
        )
    )
    got = {r.user_id: (r.n, r.fp) for r in final.collect()}
    assert got == {r.user_id: (r.n, r.fp) for r in batch.collect()}
    assert got == {1: (3, 330), 2: (2, 260)}


@pytest.mark.parametrize("first, second", [("us", "ns"), ("ns", "us")])
def test_events_ts_layout_probed_once_per_file_version(
    spark, tmp_path, first, second
):
    """``read_events_stream`` infers the ``ts`` layout once per version of
    the source files: a second call over unchanged files runs no Spark job,
    and a rewrite in place with the other layout is probed again and read
    right (NANOS truncated to micros)."""
    src = tmp_path / "src"
    src.mkdir()
    path = src / "events.parquet"

    def rows(day):
        return [
            (i, _T0_NS + (24 * day + i) * _HOUR_NS + 123_456_789, i, "click", 1.0)
            for i in range(3)
        ]

    _write_events(path, rows(0), unit=first)
    read_events_stream(spark, str(src), glob="events.parquet")

    sc = spark.sparkContext
    group = f"ts_probe_{first}_{second}"
    sc.setJobGroup(group, "second read_events_stream call")
    try:
        read_events_stream(spark, str(src), glob="events.parquet")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    _write_events(path, rows(1), unit=second)
    events = read_events_stream(spark, str(src), glob="events.parquet")
    assert dict(events.dtypes)["ts"] == "timestamp"
    got = run_bounded(
        events.select("event_id", F.unix_micros("ts").alias("us")),
        f"ts_layout_{first}_{second}",
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    assert {r.event_id: r.us for r in got.collect()} == {
        i: ts // 1000 for i, ts, *_ in rows(1)
    }


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    """Exactly-once incremental ingestion: a second availableNow run over
    the SAME checkpoint must process only files that arrived after the
    first run — the contract that makes the streaming ETL restartable
    and incremental at 100 TB (no backfill re-reads, no duplicates)."""
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def run_once():
        q = (
            spark.readStream.schema("id long, v string")
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.range(5).selectExpr("id", "'a' AS v").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run_once()
    assert spark.read.parquet(out).count() == 5

    spark.range(5, 8).selectExpr("id", "'b' AS v").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 8  # 5 old (not reprocessed) + 3 new
    assert got.filter("v = 'b'").count() == 3


def test_tws_user_totals_matches_batch(spark, sf_dir, tmp_path):
    """state-v2 (transformWithStateInPandas) running totals drained over
    the bounded source must equal the batch groupBy (float addition in
    the processor is sequential per user, so totals match a per-user
    ordered sum to ~1e-6 relative). Skips where google.protobuf (the
    state-v2 wire protocol) is unusable — this container — in which case
    the operator itself must fail fast with NotImplementedError."""
    import pytest

    from large_csv_etl_spark.streaming import (
        read_events_stream,
        run_bounded,
        user_totals_tws_stream,
    )

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        stream = read_events_stream(spark, sf_dir, glob="events.parquet")
        with pytest.raises(NotImplementedError, match="protobuf"):
            user_totals_tws_stream(stream)
        pytest.skip("google.protobuf unusable here; gate verified")

    stream = read_events_stream(spark, sf_dir, glob="events.parquet")
    out = user_totals_tws_stream(stream)
    got = run_bounded(
        out, "tws_totals", str(tmp_path / "ckpt"), output_mode="update"
    )
    latest = {
        r.user_id: (r.n_events, r.total_value)
        for r in got.collect()
    }
    batch = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("tv")
    )
    expect = {r.user_id: (r.n, r.tv) for r in batch.collect()}
    assert set(latest) == set(expect)
    for u, (n, tv) in expect.items():
        gn, gtv = latest[u]
        assert gn == n
        assert abs(gtv - tv) <= 1e-6 * max(1.0, abs(tv))


@pytest.mark.parametrize(
    "name, prefix",
    [
        ("streaming_upsert_latest_event", "upsert_store_"),
        ("streaming_update_mode_topk", "upd_topk_"),
        ("streaming_update_mode_user_totals", "upd_totals_"),
    ],
)
def test_parquet_sink_entries_remove_their_temp_dir(spark, name, prefix):
    """The foreachBatch/upsert entries stage their sink in a temp dir,
    read it back and return a materialized frame: the dir is gone once
    the call returns, and the frame still holds the oracle's rows."""
    import os
    import tempfile

    import duckdb

    from large_csv_etl_spark.queries import all_oracles, all_queries

    def staged():
        return {
            d for d in os.listdir(tempfile.gettempdir()) if d.startswith(prefix)
        }

    before = staged()
    df = all_queries()[name](spark, SF_DIR)
    assert staged() - before == set()

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    want = con.sql(all_oracles()[name])
    got = [tuple(r) for r in df.select(*want.columns).collect()]
    assert sorted(got) == sorted(want.fetchall())


@pytest.mark.parametrize(
    "name",
    ["streaming_leftouter_interval_join", "streaming_fullouter_interval_join"],
)
def test_outer_interval_joins_match_oracle_on_nanos_events(
    spark, tmp_path, name
):
    """The outer interval joins take their graded cutoff from the static
    ``events`` table; on the TIMESTAMP(NANOS) layout that read must go
    through ``load_table`` (a plain parquet read fails inference there, or
    reads ``ts`` as int64 nanos)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from large_csv_etl_spark.queries import all_oracles, all_queries

    tbl = pq.read_table(f"{SF_DIR}/events.parquet")
    i = tbl.schema.get_field_index("ts")
    ns = tbl.column(i).cast(pa.timestamp("ns"))
    pq.write_table(
        tbl.set_column(i, pa.field("ts", pa.timestamp("ns")), ns),
        tmp_path / "events.parquet",
        version="2.6",
    )
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == (
        pa.timestamp("ns")
    )
    df = all_queries()[name](spark, str(tmp_path))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    want = con.sql(all_oracles()[name])
    got = [tuple(r) for r in df.select(*want.columns).collect()]
    assert len(got) > 0
    assert sorted(got, key=repr) == sorted(want.fetchall(), key=repr)
