"""The integer micro-unit vector kit and the query registry factory of
``large_csv_etl_spark.queries.helpers``, on tiny in-memory inputs whose
answers are known by hand."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from large_csv_etl_spark.queries.helpers import (
    centroid_arrays,
    micro6,
    registry,
    sq_l2,
)


def test_micro6_rounds_half_micro_away_from_zero(spark):
    # each x * 1e6 below is an exact .5 tie in double arithmetic
    assert [5e-7 * 1e6, 2.5e-6 * 1e6] == [0.5, 2.5]
    df = spark.createDataFrame(
        [([5e-7, -5e-7, 2.5e-6, -2.5e-6, 1.5e-6, 0.25, -1.0, None],)],
        "embedding array<double>",
    )
    out = df.select(micro6("embedding").alias("v6"))
    assert out.dtypes == [("v6", "array<bigint>")]
    # half away from zero, not half to even: 2.5 -> 3, -2.5 -> -3
    assert out.collect()[0].v6 == [1, -1, 3, -3, 2, 250000, -1000000, None]


def test_sq_l2_is_exact_past_two_to_the_53(spark):
    big = 94906267  # big^2 = 2^53 + 261134297, odd, so no double holds it
    df = spark.createDataFrame(
        [([big, 3, -2], [0, 1, 2])], "a array<bigint>, b array<bigint>"
    )
    out = df.select(sq_l2(F.col("a"), F.col("b")).alias("d2"))
    assert out.dtypes == [("d2", "bigint")]
    exact = big * big + 4 + 16
    assert exact > 2**53 and float(exact) != exact
    assert out.collect()[0].d2 == exact


def test_centroid_arrays_packs_in_pos_order_one_key(spark):
    # rows deliberately out of pos order; pos 10 sorts after pos 2
    rows = [
        ("a", 10, 7), ("a", 2, 5), ("a", 0, 1), ("a", 1, -3),
        ("a", 0, 2), ("a", 1, -4), ("a", 2, 5), ("a", 10, 8),
        ("b", 1, 9), ("b", 0, -1),
    ]
    long_df = spark.createDataFrame(rows, "clabel string, pos int, val6 long")
    got = {r.clabel: r.c6 for r in centroid_arrays(long_df, "clabel").collect()}
    # means 1.5 -> 2, -3.5 -> -4, 5, 7.5 -> 8 (rounded half away from zero)
    assert got == {"a": [2, -4, 5, 8], "b": [-1, 9]}

    shuffled = spark.createDataFrame(rows[::-1], long_df.schema)
    again = {r.clabel: r.c6 for r in centroid_arrays(shuffled, "clabel").collect()}
    assert again == got


def test_centroid_arrays_packs_per_key_pair(spark):
    rows = [
        ("a", 1, 3, 30), ("a", 0, 1, 10), ("a", 1, 2, 20), ("a", 0, 0, 0),
        ("a", 0, 0, 1), ("b", 0, 1, -5), ("b", 0, 0, 4),
    ]
    long_df = spark.createDataFrame(
        rows, "clabel string, sub long, pos int, val6 long"
    )
    out = centroid_arrays(long_df, "clabel", "sub")
    assert out.columns == ["clabel", "sub", "c6"]
    got = {(r.clabel, r.sub): r.c6 for r in out.collect()}
    # (a, 0): pos 0 mean 0.5 -> 1, pos 1 -> 10
    assert got == {("a", 0): [1, 10], ("a", 1): [20, 30], ("b", 0): [4, -5]}


def test_registry_rejects_a_repeated_name():
    queries, oracles, q = registry()

    @q("first", "SELECT 1")
    def first(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="first"):

        @q("first")
        def again(spark, sf_dir):
            return None

    assert queries == {"first": first}
    assert oracles == {"first": "SELECT 1"}


def test_registry_keeps_registration_order():
    queries, oracles, q = registry()
    for name in ("zeta", "alpha"):
        q(name)(lambda spark, sf_dir: None)
    q("mid", "SELECT 2")(lambda spark, sf_dir: None)
    assert list(queries) == ["zeta", "alpha", "mid"]
    assert oracles == {"mid": "SELECT 2"}
    # each registry is its own namespace
    other, _, q2 = registry()
    q2("zeta")(lambda spark, sf_dir: None)
    assert list(other) == ["zeta"] and len(queries) == 3
