"""Iterative graph operators (driver-coordinated fixpoint loops).

Connected components is the transitive-closure step of every near-dup
pipeline: pairwise matches (MinHash/LSH/Jaccard candidates) must become
clusters — if A~B and B~C, all three are one duplicate group even when
A and C never matched directly.

The distributed form here is min-label propagation: every node starts
labeled with its own id; each round, every node takes the minimum label in
its neighborhood; converged when no label changes. Rounds = cluster
diameter, and near-dup graphs are star-like (diameter 2-4), so this
converges in a handful of joins. For adversarial long-path graphs the
O(log n)-round large-star/small-star variant exists, but its extra
per-round cost is wasted on dedup workloads — documented trade-off, not an
oversight.

The edge-list builders at the end of the module (co-occurrence edges,
degrees, the rank-capped adjacency, degree-ordered triangle enumeration,
non-adjacent wedge counts) are the shared graph construction of the
co-purchase and token co-occurrence operators in ``queries/text.py``. They
never materialize: each caller places its own lineage cuts.

Scale notes: each round is one shuffle join (edges x labels, both
partitioned on the join key) + one min-aggregate; ``localCheckpoint``
truncates the lineage so the plan doesn't grow with iterations; the
convergence probe is a single count per round (a bounded driver action,
the standard loop-control for iterative algorithms — not a data collect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Each node contributes at most this many neighbors, the first in node-key
# order, to a rank-capped adjacency: the graded cap of the wedge-based link
# predictors, bounding wedge work at O(|V| * cap^2) instead of
# O(sum deg^2).
_CN_NBR_CAP = 16


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Components of the undirected graph given by ``edges`` — returns
    ``(node, component)`` where component is the minimum node id reachable.
    Only nodes appearing in an edge are returned (isolated nodes are their
    own singleton components by definition; callers that need them can
    union them in)."""
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    und = und.distinct().localCheckpoint()

    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    changed = -1
    for _ in range(max_iter):
        nbr_min = (
            und.join(labels, und.a == labels.node)
            .select(F.col("b").alias("node"), F.col("component"))
            .union(labels)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        ).localCheckpoint()
        changed = (
            nbr_min.withColumnRenamed("component", "new_component")
            .join(labels, "node")
            .filter(F.col("new_component") != F.col("component"))
            .count()
        )
        labels = nbr_min
        if changed == 0:
            break
    if changed != 0:
        # Unconverged labels are WRONG labels (a long-chain component keeps
        # shrinking past max_iter) — fail loudly rather than return a
        # silent divergence from the exact transitive closure.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — rounds "
            "needed = component diameter"
        )
    return labels


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over the directed graph given by ``edges`` (deduplicated
    internally). Returns ``(node, rank)`` for every node appearing as a
    source or destination; ranks sum to 1.

    Power iteration, fixed ``n_iter`` rounds (rank moves < 1e-6 after ~10
    rounds on the small-diameter graphs this engine builds — token
    co-occurrence, near-dup candidates). Per round: one shuffle join
    (ranks x edges on the source key) + one destination-keyed sum — both
    carry a single DOUBLE per edge, so the shuffle is bounded by |edges|
    regardless of upstream data size. Dangling mass (nodes with no
    out-edges) is re-spread uniformly each round, keeping the distribution
    stochastic; the dangling total is a 1-row aggregate joined back by
    crossJoin(broadcast), not a driver collect. ``localCheckpoint``
    truncates lineage per round exactly like connected_components.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    e = e.localCheckpoint()
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    outdeg = e.groupBy("s").agg(F.count("*").alias("outdeg"))
    # graph-local state: node, rank, outdeg (null outdeg = dangling)
    state = nodes.join(outdeg, nodes.node == outdeg.s, "left").select(
        "node", "outdeg"
    )
    n_nodes = nodes.count()  # bounded loop constant (|vocab|-sized), not data
    if n_nodes == 0:
        # empty edge set: no nodes, no ranks (mirrors connected_components
        # returning only nodes that appear in an edge)
        return nodes.withColumn("rank", F.lit(0.0)).select("node", "rank")
    ranks = state.withColumn("rank", F.lit(1.0 / n_nodes))
    for it in range(n_iter):
        contrib = (
            ranks.filter(F.col("outdeg").isNotNull())
            .join(e, ranks.node == e.s)
            .select(F.col("d").alias("node"), (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        dangling = ranks.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        ranks = (
            ranks.select("node", "outdeg")
            .join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "outdeg",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (F.coalesce(F.col("in_mass"), F.lit(0.0)) + F.col("dm") / n_nodes)
                ).alias("rank"),
            )
        )
        # Materialize EVERY round: each iteration references the previous
        # `ranks` three times (contrib join, dangling aggregate, rebuild
        # select), so an un-materialized round re-executes with branch
        # factor 3 — a checkpoint every 3rd round paid up to 3^2 = 9
        # redundant evaluations of the oldest round in the window, which
        # at cluster scale is 9x real data-sized join work. Per-round
        # materialization executes each round exactly once (GraphX-style
        # per-iteration caching); every downstream reference reads blocks.
        ranks = ranks.localCheckpoint()
    return ranks.select("node", "rank")


def pagerank_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """PageRank in integer fixed-point: ranks are BIGINT multiples of
    1/``scale``, every per-round operation is integer (`div`, `*`, exact
    BIGINT sums), so the result is bit-deterministic regardless of
    partition order AND reproducible by any engine with 64-bit integer
    division — which makes the query oracle-gradable where the float
    version is rows-only. Same plan shape as :func:`pagerank` (one
    ranks x edges shuffle + one destination-keyed sum per round, broadcast
    1-row dangling mass, per-round lineage cuts).

    Floor losses from integer division mean total mass drifts a few
    ulps-of-scale below ``scale`` per round; that drift is identical in
    every engine, which is the point. Overflow headroom: in_mass and
    dangling mass are each <= scale (1e12 default), so the widest
    intermediate ``damping_num * (in_mass + dm div n)`` is < 2e14, far
    inside BIGINT. Returns ``(node, rank_fp BIGINT)``.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    e = e.localCheckpoint()
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    outdeg = e.groupBy("s").agg(F.count("*").alias("outdeg"))
    state = nodes.join(outdeg, nodes.node == outdeg.s, "left").select(
        "node", "outdeg"
    )
    n_nodes = nodes.count()  # bounded loop constant (|vocab|-sized), not data
    if n_nodes == 0:
        return nodes.withColumn("rank_fp", F.lit(0).cast("bigint")).select(
            "node", "rank_fp"
        )
    base = (damping_den - damping_num) * scale // (damping_den * n_nodes)
    ranks = state.withColumn(
        "rank_fp", F.lit(scale // n_nodes).cast("bigint")
    )
    for it in range(n_iter):
        contrib = (
            ranks.filter(F.col("outdeg").isNotNull())
            .join(e, ranks.node == e.s)
            .select(
                F.col("d").alias("node"),
                F.expr("rank_fp div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("bigint").alias("in_mass"))
        )
        dangling = ranks.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("rank_fp"), F.lit(0)).cast("bigint").alias("dm")
        )
        ranks = (
            ranks.select("node", "outdeg")
            .join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "outdeg",
                F.expr(
                    f"cast({base} + ({damping_num} * (coalesce(in_mass, 0)"
                    f" + (dm div {n_nodes}))) div {damping_den} as bigint)"
                ).alias("rank_fp"),
            )
        )
        # per-round materialization: same branch-factor-3 lineage argument
        # as pagerank() above
        ranks = ranks.localCheckpoint()
    return ranks.select("node", "rank_fp")


def cooccurrence_edges(pairs: DataFrame, group: str, item: str) -> DataFrame:
    """Undirected co-occurrence graph: the distinct ``(u, v)`` item pairs
    with ``u < v`` whose items share a ``group`` value (parts bought in one
    order, tokens in one document). ``pairs`` is reduced to its distinct
    ``(group, item)`` rows first, so repeated lines add nothing; the
    self-join is keyed on ``group``."""
    gi = pairs.select(group, item).distinct()
    a, b = gi.alias("a"), gi.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{group}") == F.col(f"b.{group}"))
            & (F.col(f"a.{item}") < F.col(f"b.{item}")),
        )
        .select(F.col(f"a.{item}").alias("u"), F.col(f"b.{item}").alias("v"))
        .distinct()
    )


def undirected_degrees(edges: DataFrame) -> DataFrame:
    """``(node, d)``: the degree of every node of the ``(u, v)`` edge list
    (each edge counts once at each endpoint)."""
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )


def capped_adjacency(edges: DataFrame) -> DataFrame:
    """``(node, nbr)`` over both directions of every ``(u, v)`` edge,
    keeping each node's first ``_CN_NBR_CAP`` neighbors in ``nbr`` order."""
    adj = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(edges.select(F.col("v"), F.col("u")))
    return (
        adj.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("node").orderBy("nbr")),
        )
        .filter(F.col("rn") <= _CN_NBR_CAP)
        .select("node", "nbr")
    )


def nonadjacent_wedge_counts(capped: DataFrame, edges: DataFrame) -> DataFrame:
    """``(a, b, cn)``: every pair ``a < b`` that is NOT an edge but shares
    a neighbor in the ``(node, nbr)`` adjacency ``capped``, with ``cn`` the
    number of such shared neighbors (the wedges ``a - node - b``). Existing
    edges drop via an anti-join on the normalized ``u < v`` key."""
    l, r = capped.alias("l"), capped.alias("r")
    wedge = l.join(
        r,
        (F.col("l.node") == F.col("r.node"))
        & (F.col("l.nbr") < F.col("r.nbr")),
    ).select(F.col("l.nbr").alias("a"), F.col("r.nbr").alias("b"))
    return (
        wedge.join(
            edges,
            (wedge.a == edges.u) & (wedge.b == edges.v),
            "left_anti",
        )
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("cn"))
    )


def orient_by_degree(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """``(x, y, dy)``: every ``(u, v)`` edge pointed from its endpoint that
    is smaller in the (degree, id) total order to the larger one, carrying
    the head's degree ``dy`` so wedges can be compared in that same order.
    ``deg`` is :func:`undirected_degrees` of ``edges``."""
    e = edges.join(
        deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("y"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dy"),
    )


def oriented_triangles(oriented: DataFrame) -> DataFrame:
    """``(a, b, c)``: every triangle of the graph once, from the
    :func:`orient_by_degree` edges — the wedges ``a -> b``, ``a -> c`` with
    ``b`` before ``c`` in (degree, id) order, closed by an oriented
    ``b -> c`` edge. Each triangle is found only at its smallest vertex,
    so the quadratic wedge work lands on low-degree vertices (the
    Latapy/GraphX orientation that survives power-law graphs)."""
    o1, o2, o3 = oriented.alias("o1"), oriented.alias("o2"), oriented.alias("o3")
    return (
        o1.join(
            o2,
            (F.col("o1.x") == F.col("o2.x"))
            & (
                F.struct(F.col("o1.dy"), F.col("o1.y"))
                < F.struct(F.col("o2.dy"), F.col("o2.y"))
            ),
        )
        .join(
            o3,
            (F.col("o3.x") == F.col("o1.y"))
            & (F.col("o3.y") == F.col("o2.y")),
        )
        .select(
            F.col("o1.x").alias("a"),
            F.col("o1.y").alias("b"),
            F.col("o2.y").alias("c"),
        )
    )
