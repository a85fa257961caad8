"""Shared determinism helpers for oracle-differential queries.

Why DECIMAL: a double sum is partition-order dependent — Spark's 32-way
partial aggregation and DuckDB's sequential scan accumulate in different
orders, so the low bits differ and an exact value-hash comparison fails.
Casting each addend to DECIMAL first makes the sum exact (the cast itself is
round-to-nearest of the *same* IEEE double in both engines, hence
identical), and the final DECIMAL -> DOUBLE cast is deterministic. This is
also the right call at 100 TB: money aggregation in decimal is standard, and
Spark decimal sums stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Scale 4 covers money values (2dp) and money*discount products (4dp)
# exactly; precision 30 leaves ~26 integer digits of headroom for 100 TB
# scale sums.
DEC = "decimal(30,4)"


def dsum(col: Column | str) -> Column:
    """Exact sum surfaced as DOUBLE: sum(cast(x as decimal)) :: double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: Column | str) -> Column:
    """Deterministic average: exact decimal sum cast to double, / count.

    Both engines then perform the same single IEEE division. (Plain
    ``avg(double)`` would be order-dependent; ``avg(decimal)`` has
    engine-specific result types.)
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def sql_dsum(expr: str) -> str:
    """DuckDB-side twin of dsum()."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,4))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    """DuckDB-side twin of davg()."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,4))) AS DOUBLE) / COUNT({expr})"


# --- deterministic split / shard contract -------------------------------
# ONE definition for the 80/10/10 train/val/test thresholds and the
# 16-way export shard, consumed by the declarative job steps (jobs.py)
# and the graded sampling/export queries alike. Retuning a literal in one
# consumer and not another would silently assign the same doc_id to
# different splits in the job-spec path vs the graded export.
#
# Membership is a pure function of md5(key): bucket = first two hex chars
# (256 equal buckets). train = 00..cc (205/256 ~ 80.1%), val = cd..e6
# (26/256 ~ 10.2%), test = e7..ff (25/256 ~ 9.8%). Shard = first hex char
# (16-way).
#
# MIGRATION NOTE (one-time re-deal): before this contract was hoisted,
# sample_split_train_val_test used exclusive 'cc'/'e6' bounds, so docs in
# buckets 'cc' (val->train) and 'e6' (test->val) — ~0.8% of any corpus —
# changed split when the thresholds were unified. The stability promise
# ("new documents self-assign without touching existing assignments")
# holds WITHIN a contract version; retuning these literals is a breaking
# change that re-deals boundary buckets and must be called out, never
# silent. Exports cut before the unification should be regenerated, not
# incrementally appended to.
SPLIT_TRAIN_MAX = "cd"  # bucket < 'cd' -> train
SPLIT_VAL_MAX = "e7"  # bucket < 'e7' -> val, else test
SHARD_PREFIX_LEN = 1  # 16-way export shard


def hash_bucket(key: Column) -> Column:
    """First two hex chars of md5(key) — 256 equal buckets, engine-portable."""
    return F.substring(F.md5(key.cast("string")), 1, 2)


def split_assign(key: Column) -> Column:
    """Deterministic train/val/test label for ``key`` (Spark side)."""
    bkt = hash_bucket(key)
    return (
        F.when(bkt < SPLIT_TRAIN_MAX, "train")
        .when(bkt < SPLIT_VAL_MAX, "val")
        .otherwise("test")
    )


def shard_assign(key: Column) -> Column:
    """Deterministic 16-way shard id for ``key`` (Spark side)."""
    return F.substring(F.md5(key.cast("string")), 1, SHARD_PREFIX_LEN)


def sql_split_case(key_expr: str) -> str:
    """DuckDB-side twin of split_assign() over a VARCHAR key expression."""
    bkt = f"SUBSTR(md5(CAST({key_expr} AS VARCHAR)), 1, 2)"
    return (
        f"CASE WHEN {bkt} < '{SPLIT_TRAIN_MAX}' THEN 'train' "
        f"WHEN {bkt} < '{SPLIT_VAL_MAX}' THEN 'val' ELSE 'test' END"
    )


def sql_shard(key_expr: str) -> str:
    """DuckDB-side twin of shard_assign()."""
    return f"SUBSTR(md5(CAST({key_expr} AS VARCHAR)), 1, {SHARD_PREFIX_LEN})"


# --- portable 60-bit integer hash ---------------------------------------
# Both engines hex-decode a 15-char slice of md5 to the SAME non-negative
# BIGINT (< 2^60): Spark via conv(hex, 16, 10), DuckDB via a '0x…' string
# cast. This is the bridge that lets hash-driven operators (MinHash,
# SimHash, feature hashing) be graded value-exact against the DuckDB
# oracle, where xxhash64 is engine-specific and forces a rows-only check.
# The two 15-char slices of one md5 give two independent 60-bit hashes
# per digest.


def phash60(col: Column, hi: bool = False) -> Column:
    """Portable 60-bit hash of a string column (Spark side).

    ``hi`` selects the second 15-hex-char slice of the digest, yielding a
    hash independent of the ``hi=False`` one for the same input.
    """
    start = 16 if hi else 1
    return F.conv(F.substring(F.md5(col), start, 15), 16, 10).cast("bigint")


def sql_phash60(expr: str, hi: bool = False) -> str:
    """DuckDB-side twin of phash60() over a VARCHAR expression."""
    start = 16 if hi else 1
    return f"('0x' || substr(md5({expr}), {start}, 15))::BIGINT"


# --- integer micro-unit vectors ------------------------------------------
# The embedding operators grade exactly by working on round(x * 1e6) as
# BIGINT: the float32 -> double promotion, the *1e6 product and round()
# (half away from zero) land identically in both engines, and every sum
# after that is integer arithmetic, so no result depends on fold order.
# |x| <= ~10 keeps an element's micro-unit difference d under 2e7, so
# d^2 <= 4e14 and a 64-dim squared L2 stays far inside int64.


def micro6(col: str) -> Column:
    """The array column ``col`` in integer micro-units:
    round(x * 1e6) as BIGINT per element (NULL elements stay NULL)."""
    return F.expr(
        f"transform({col},"
        " x -> cast(round(cast(x AS double) * 1000000.0) AS bigint))"
    )


def sq_l2(a: Column, b: Column) -> Column:
    """Exact squared L2 distance of two micro-unit arrays, folded left to
    right in BIGINT."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def centroid_means(long_df: DataFrame, *keys: str) -> DataFrame:
    """Per-position centroid of ``(keys..., pos, val6)`` rows: the rounded
    integer mean of val6, the Lloyd update formula every centroid operator
    shares. Returns (keys..., pos, cmu)."""
    return long_df.groupBy(*keys, "pos").agg(
        F.round(F.sum("val6").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("cmu")
    )


def centroid_arrays(long_df: DataFrame, *keys: str) -> DataFrame:
    """``centroid_means`` packed into one array per key in ``pos`` order.
    Returns (keys..., c6)."""
    return centroid_means(long_df, *keys).groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cmu"))),
            lambda s: s["cmu"],
        ).alias("c6")
    )


def registry():
    """A query module's registry: ``(QUERIES, ORACLES, _q)``.

    ``@_q(name, oracle)`` records the builder under ``name`` in QUERIES
    and its DuckDB SQL, when given, in ORACLES. Registering a name twice
    in one registry raises instead of silently replacing the first."""
    queries: dict = {}
    oracles: dict = {}

    def q(name: str, oracle: str | None = None):
        def deco(fn):
            if name in queries:
                raise ValueError(f"query {name!r} is already registered")
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn

        return deco

    return queries, oracles, q


def materialize_reduced(df):
    """Eagerly materialize a REDUCED intermediate (per-doc fingerprints,
    per-vector signatures, capped posting lists) that the downstream plan
    references more than once — band self-joins, estimator joins, size
    lookups. Catalyst has no common-subexpression elimination across
    self-join branches: without this, the expensive upstream subtree
    (token explode + wide aggregate, or an Arrow-batch matmul) re-executes
    once PER REFERENCE — measured 2.5x wall on the simhash near-dup path
    at sf0.1 (5.0 s recomputed vs 2.0 s materialized).

    ``localCheckpoint(eager=True)`` stores the small result in executor
    block storage (memory, spilling to disk) and cuts lineage, so every
    downstream branch reads the blocks. Only call this on outputs of
    ~|docs| rows, never on raw token/shingle expansions. Lineage-cut
    caveat at cluster scale: a lost executor cannot recompute its blocks —
    the 100 TB deployment stages these intermediates to parquet instead
    (docs/DEPLOY_100TB.md); block storage is the right tradeoff for a
    single node and for any cluster with external shuffle/storage.
    """
    return df.localCheckpoint(eager=True)


def local_frame(spark, rows, ddl: str) -> DataFrame:
    """The driver-side tuples ``rows`` as a DataFrame typed by the DDL
    string ``ddl``, held by the driver as a ``LocalRelation``.

    ``spark.createDataFrame(rows, ddl)`` pickles Python rows into an RDD:
    collecting it runs a Spark job with a Python worker per task, and a
    join or broadcast over it adds a pickling stage. Built from a
    ``pyarrow.Table``, the frame is a ``LocalRelation`` instead, which
    every action reads without a job or a Python worker (with or without
    ``spark.sql.execution.arrow.pyspark.enabled``). Column types come from
    ``ddl``, never from the data, so empty ``rows`` or an all-``None``
    column keep their types; every column is nullable, as with a DDL
    schema. Only for small, bounded row lists: the driver holds them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows, strict=True)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow, strict=True)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


# --- fixed-point total-variation-distance contract ----------------------
# ONE definition of the determinism-critical TVD snap shared by the drift
# operators (text_source_token_drift, events_type_drift_daily) on BOTH
# engine sides. Each |p_obs - p_mix| term is pure IEEE double arithmetic
# (identical across engines) snapped to 1e-12 fixed point with round() —
# half-away-from-zero in BOTH engines, ties included, unlike a
# double->DECIMAL cast (the round-5 decimal-cast-tie lesson) — and summed
# as BIGINT so the aggregate is partition/visit-order independent. The
# full-vocabulary TVD decomposes as
#   0.5 * (sum_{present} |p_obs - p_mix| + 1 - sum_{present} p_mix)
# so only categories PRESENT in the observed group are ever joined; the
# absent-category mass is the `scale - b_fp` term.
TVD_SCALE = 1000000000000.0  # 1e-12 fixed point


def fp_sum(col: Column, scale: float, sum_type: str = "bigint") -> Column:
    """Exact fixed-point sum: SUM(round(col * scale) :: sum_type).

    The order-independent snap for summing arbitrary doubles in an
    oracle-paired aggregate: each addend is one IEEE multiply (identical
    across engines) then round() — half-away-from-zero in BOTH engines,
    ties included, unlike a double->DECIMAL cast — summed in exact
    integer arithmetic. Pass sum_type="decimal(38,0)" when the summed
    magnitude can exceed BIGINT. Divide the result by ``scale`` (and
    cast) at the call site."""
    return F.sum(F.round(col * F.lit(float(scale)), 0).cast(sum_type))


def sql_fp_sum(expr: str, scale: float, sum_type: str = "BIGINT") -> str:
    """DuckDB twin of fp_sum() over a SQL expression."""
    return f"SUM(CAST(round(({expr}) * {float(scale):.1f}) AS {sum_type}))"


def tvd_fixed_point_aggs(p_obs: Column, p_mix: Column) -> list[Column]:
    """The two BIGINT aggregates (a_fp, b_fp) of the TVD decomposition
    (Spark side). Use inside a groupBy().agg(*...)."""
    return [
        fp_sum(F.abs(p_obs - p_mix), TVD_SCALE).alias("a_fp"),
        fp_sum(p_mix, TVD_SCALE).alias("b_fp"),
    ]


def tvd_from_fixed_point() -> Column:
    """(a_fp + scale - b_fp) / 2 / scale — the final DOUBLE TVD (Spark
    side), operation order matching sql_tvd_expr exactly."""
    scale = F.lit(TVD_SCALE)
    return (
        (F.col("a_fp").cast("double") + scale - F.col("b_fp").cast("double"))
        / F.lit(2.0)
        / scale
    )


def sql_tvd_expr(p_obs_sql: str, p_mix_sql: str) -> str:
    """DuckDB twin of the whole TVD aggregate over the two probability
    expressions — identical snap, sum types, and operation order."""
    s = "1000000000000.0"
    return (
        f"(CAST(SUM(CAST(round(ABS(({p_obs_sql}) - ({p_mix_sql})) * {s}) AS BIGINT)) AS DOUBLE)"
        f" + {s}"
        f" - CAST(SUM(CAST(round(({p_mix_sql}) * {s}) AS BIGINT)) AS DOUBLE)"
        f") / 2.0 / {s}"
    )
