"""Planted-data semantics tests for the temporal joins (asof / band).

The oracle-differential suite proves parity with DuckDB at fixture scale;
these pin the SEMANTICS on hand-built rows where the expected output is
known by construction — inclusive as-of boundary, no-match nulls, band
edges, and the no-double-count property of the bucket replication.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from large_csv_etl_spark.queries.temporal import (
    asof_join_latest_order,
    range_join_follower_events,
)


def _write_fixture(spark, tmp_path, events_rows, orders_rows):
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        events_rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    spark.createDataFrame(
        orders_rows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ).write.mode("overwrite").parquet(f"{sf}/orders.parquet")
    return sf


TS = dt.datetime  # noqa: N816 - terse constructor for fixtures


def test_asof_inclusive_boundary_and_no_match(spark, tmp_path):
    sf = _write_fixture(
        spark,
        tmp_path,
        events_rows=[
            # e1 exactly AT the order instant -> matches (inclusive)
            (1, TS(2024, 1, 10, 12, 0, 0), 7, "click", 1.0, "{}"),
            # e2 after both orders -> matches the LATER order
            (2, TS(2024, 1, 20, 0, 0, 0), 7, "click", 1.0, "{}"),
            # e3 before every order -> null match
            (3, TS(2024, 1, 1, 0, 0, 0), 7, "click", 1.0, "{}"),
            # e4 different user, no orders at all -> null match
            (4, TS(2024, 1, 15, 0, 0, 0), 9, "click", 1.0, "{}"),
        ],
        orders_rows=[
            (100, 7, "O", 10.0, TS(2024, 1, 10, 12, 0, 0), "1-URGENT"),
            (200, 7, "O", 20.0, TS(2024, 1, 15, 0, 0, 0), "1-URGENT"),
        ],
    )
    got = {
        r["event_id"]: (r["matched_orderkey"], r["matched_orderdate"])
        for r in asof_join_latest_order(spark, sf).collect()
    }
    assert got[1] == (100, TS(2024, 1, 10, 12, 0, 0))
    assert got[2] == (200, TS(2024, 1, 15, 0, 0, 0))
    assert got[3] == (None, None)
    assert got[4] == (None, None)


def test_asof_equal_timestamp_orders_deterministic(spark, tmp_path):
    # two orders at the SAME instant for the same user: max orderkey wins
    sf = _write_fixture(
        spark,
        tmp_path,
        events_rows=[(1, TS(2024, 1, 10, 13, 0, 0), 7, "click", 1.0, "{}")],
        orders_rows=[
            (100, 7, "O", 10.0, TS(2024, 1, 10, 12, 0, 0), "1-URGENT"),
            (101, 7, "O", 11.0, TS(2024, 1, 10, 12, 0, 0), "1-URGENT"),
        ],
    )
    [row] = asof_join_latest_order(spark, sf).collect()
    assert row["matched_orderkey"] == 101


def test_band_join_edges_and_no_double_count(spark, tmp_path):
    base = TS(2024, 1, 10, 0, 0, 0)
    sf = _write_fixture(
        spark,
        tmp_path,
        events_rows=[
            (1, base, 7, "click", 1.0, "{}"),
            # strictly-after within band: counted
            (2, base + dt.timedelta(hours=1), 7, "click", 1.0, "{}"),
            # exactly AT the 6h band edge: counted (<=)
            (3, base + dt.timedelta(hours=6), 7, "click", 1.0, "{}"),
            # just past the band edge: NOT counted for e1
            (4, base + dt.timedelta(hours=6, seconds=1), 7, "click", 1.0, "{}"),
            # same timestamp as e1 (strict > excludes both directions)
            (5, base, 7, "view", 1.0, "{}"),
            # different user: never a candidate
            (6, base + dt.timedelta(hours=2), 9, "click", 1.0, "{}"),
        ],
        orders_rows=[],
    )
    got = {
        r["event_id"]: r["n_follow"]
        for r in range_join_follower_events(spark, sf).collect()
    }
    # e1 sees e2 (1h) and e3 (6h edge) but not e4/e5/e6; e5 likewise
    assert got.get(1) == 2
    assert got.get(5) == 2
    # e2 sees e3, e4; e3 sees e4; e4 and e6 see nothing (absent from inner join)
    assert got.get(2) == 2
    assert got.get(3) == 1
    assert 4 not in got and 6 not in got


def test_band_join_bucket_replication_never_double_counts(spark, tmp_path):
    # a follower in the NEXT bucket is reachable via the left row's second
    # bucket replica, and a same-bucket follower matches exactly one replica
    base = TS(2024, 1, 10, 0, 0, 0)  # bucket boundary at 6h grid
    sf = _write_fixture(
        spark,
        tmp_path,
        events_rows=[
            (1, base + dt.timedelta(hours=5), 7, "click", 1.0, "{}"),
            (2, base + dt.timedelta(hours=5, minutes=30), 7, "click", 1.0, "{}"),
            (3, base + dt.timedelta(hours=7), 7, "click", 1.0, "{}"),
        ],
        orders_rows=[],
    )
    got = {
        r["event_id"]: r["n_follow"]
        for r in range_join_follower_events(spark, sf).collect()
    }
    assert got == {1: 2, 2: 1}


def test_business_hours_sessions_order_ties_by_event_id(spark, tmp_path):
    """Two events at one instant 31 minutes after the user's first event:
    the lag orders them (ts, event_id), so event 2 opens the second
    session and event 3 continues it. The running sum must take the same
    order, or event 3 can be counted into the first session, which would
    then span 31 minutes (all of it business hours). Rows are written
    with event 3 before event 2; engine and oracle must agree on the
    answer known by construction."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from large_csv_etl_spark.queries import all_oracles, all_queries

    t0 = TS(2024, 1, 1, 10, 0)
    t1 = TS(2024, 1, 1, 10, 31)
    ids, ts = [1, 3, 2], [t0, t1, t1]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([7, 7, 7], pa.int64()),
                "event_type": pa.array(["click"] * 3),
                "value": pa.array([1.0] * 3),
                "props": pa.array(["{}"] * 3),
            }
        ),
        tmp_path / "events.parquet",
    )
    name = "temporal_business_hours_overlap"
    want = [(7, 2, 0, 0)]
    cols = ["user_id", "n_sessions", "business_us", "longest_session_us"]
    got = all_queries()[name](spark, str(tmp_path)).select(*cols).collect()
    assert [tuple(r) for r in got] == want
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    oracle = con.sql(all_oracles()[name])
    assert oracle.select(*cols).fetchall() == want
