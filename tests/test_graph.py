"""The shared graph builders of ``large_csv_etl_spark.graph`` on tiny
in-memory graphs whose answers are known by hand."""

from __future__ import annotations

from itertools import combinations

from large_csv_etl_spark.graph import (
    _CN_NBR_CAP,
    capped_adjacency,
    cooccurrence_edges,
    nonadjacent_wedge_counts,
    orient_by_degree,
    oriented_triangles,
    undirected_degrees,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def test_cooccurrence_edges_distinct_ordered_pairs(spark):
    lines = spark.createDataFrame(
        [
            (1, 30), (1, 20), (1, 10), (1, 20),  # order 1, one line repeated
            (2, 20), (2, 10),  # (10, 20) again, in a second order
            (3, 40),  # singleton orders link nothing
            (4, 50),
        ],
        "l_orderkey long, l_partkey long",
    )
    rows = [
        (r.u, r.v)
        for r in cooccurrence_edges(lines, "l_orderkey", "l_partkey").collect()
    ]
    assert sorted(rows) == [(10, 20), (10, 30), (20, 30)]
    assert all(u < v for u, v in rows)


def test_undirected_degrees_sum_to_twice_the_edges(spark):
    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    deg = {r.node: r.d for r in undirected_degrees(_edges(spark, pairs)).collect()}
    assert deg == {1: 2, 2: 2, 3: 3, 4: 2, 5: 1}
    assert sum(deg.values()) == 2 * len(pairs)


def test_capped_adjacency_keeps_the_smallest_neighbors(spark):
    # hub 0 with 20 neighbors, listed out of order
    nbrs = [7, 19, 3, 12, 1, 20, 15, 9, 4, 18, 2, 11, 6, 17, 5, 14, 8, 16, 10, 13]
    capped = capped_adjacency(_edges(spark, [(0, n) for n in nbrs])).collect()
    hub = sorted(r.nbr for r in capped if r.node == 0)
    assert _CN_NBR_CAP == 16
    assert hub == list(range(1, 17))
    # every leaf keeps its one neighbor, the hub
    assert {(r.node, r.nbr) for r in capped if r.node != 0} == {
        (n, 0) for n in nbrs
    }


def test_oriented_triangles_k4_plus_pendant(spark):
    k4 = list(combinations([1, 2, 3, 4], 2))
    edges = _edges(spark, k4 + [(4, 5)])
    tri = oriented_triangles(orient_by_degree(edges, undirected_degrees(edges)))
    got = [frozenset((r.a, r.b, r.c)) for r in tri.collect()]
    assert len(got) == 4
    assert set(got) == {frozenset(t) for t in combinations([1, 2, 3, 4], 3)}


def test_nonadjacent_wedge_counts_skip_edges(spark):
    # 4-cycle 1-2-3-4-1 plus the chord 1-3: (2, 4) shares 1 and 3 and is
    # not an edge; every other pair with a common neighbor is an edge
    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)])
    cand = nonadjacent_wedge_counts(capped_adjacency(edges), edges).collect()
    assert [(r.a, r.b, r.cn) for r in cand] == [(2, 4, 2)]
