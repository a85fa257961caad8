"""Query surface: every operator family from SURVEY.md §2, one module each.

Each module exposes ``QUERIES: dict[str, (spark, sf_dir) -> DataFrame]`` and
``ORACLES: dict[str, str]`` (DuckDB-runnable ANSI SQL over the same parquet
views). ``all_queries()`` / ``all_oracles()`` merge them for the driver
contract in ``__spark_entry__.py``.

Determinism contract shared by every pair (see helpers.py): money/float
aggregates are computed via exact DECIMAL sums and surfaced as DOUBLE, so
Spark's partition-order-dependent float accumulation can never diverge from
the oracle.

Ordering contract: the grading driver verdicts only the FIRST 50 registry
entries, so ``all_queries()`` emits ``GRADED_PRIORITY`` (exactly 50 oracled
entries, every operator family represented) first, then the remaining
oracled entries, then the rows-only ones. The window is rotated each round
toward never-graded entries — see the comment on GRADED_PRIORITY.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (
    approx,
    quality,
    dedup,
    etl,
    events,
    multimodal,
    relational,
    sampling,
    scalars,
    setops,
    similarity,
    streamq,
    temporal,
    text,
    windows,
)

_MODULES = [
    etl,
    quality,
    temporal,
    relational,
    windows,
    setops,
    scalars,
    approx,
    events,
    sampling,
    streamq,
    text,
    dedup,
    similarity,
    multimodal,
]

# First 50 = the driver's grading window. The window is rebuilt each
# round to maximize CUMULATIVE driver coverage: everything ever graded
# rotates OUT (still oracled + mimic-verified every round) except one
# flagship representative (etl_transform_parity — the reference-parity
# transform core) and one rep per family whose never-graded pool is
# empty. Every other slot is an oracled entry that has NEVER had a
# driver verdict. Never-graded entries that don't fit sit immediately
# after the window (the oracled-first sort below), first in line for the
# next rotation — compute the current deferral list with
# tools/drive_driver.py + CORRECTNESS_r*.json rather than trusting any
# hardcoded count here.
# The highest CORRECTNESS_r*.json round that existed when this window
# was generated (tools/gen_window.py prints it with the window). The
# registry tests compute the never-graded backlog AS OF this round, so
# the driver dropping the CURRENT round's verdicts mid-round — grading
# exactly the entries this window targeted — does not flip the window-
# composition tripwires red before the next rotation (ADVICE r9 #1).
# Bump it with every rotation; a staleness test pins it to within one
# round of the newest verdict file.
WINDOW_GRADED_AS_OF = 16

GRADED_PRIORITY = [
    # ---- round-17 window (tools/gen_window.py as of r16): the flagship
    # re-grade, then all 14 never-graded oracled entries (the full as-of-
    # r16 backlog), then the 35 stalest regular re-grades (last graded
    # r2-r5), which also cover every family's representative. No entry
    # was standing red after r16, so no red-row re-grade is pinned.
    "etl_transform_parity",
    "dq_all_null_row_census",
    "dq_numeric_precision_census",
    "agg_bartels_rank_vn",
    "agg_wallis_moore_phase",
    "agg_blomqvist_beta",
    "agg_winsorized_variance",
    "agg_goodman_kruskal_gamma",
    "agg_somers_d",
    "window_awesome_oscillator",
    "window_ease_of_movement",
    "window_connors_rsi",
    "events_type_audience_overlap",
    "text_vocab_containment_matrix",
    "text_length_quality_correlation",
    "q19_disjunctive_predicates",
    "q2_min_cost_per_type",
    "q4_order_priority_exists",
    "q6_forecast_revenue",
    "q7_nation_pair_volume",
    "scalar_conditional_case",
    "scalar_date_functions",
    "scalar_math_functions",
    "scalar_string_functions",
    "subquery_scalar_above_avg",
    "window_distribution_functions",
    "window_first_last_value",
    "window_lag_lead_delta",
    "window_moving_avg_frame",
    "window_range_frame_sum",
    "window_rank_variants",
    "window_topk_orders_per_customer",
    "dedup_clusters",
    "dedup_embedding_neardup",
    "dedup_eval_decontamination",
    "dedup_exact_groups",
    "dedup_exact_survivors",
    "dedup_ngram_jaccard",
    "grouping_sets_status_priority",
    "join_left_anti_semi",
    "multimodal_payload_stats",
    "q17_small_quantity_revenue",
    "sample_hash_uniform",
    "sample_mixture_weighted",
    "sample_pack_sequences",
    "setop_except_nations",
    "sim_norms",
    "asof_join_with_ttl",
    "agg_mode_by_group",
    "streaming_click_attribution",
]


def _tz_invariant(fn: Callable[[SparkSession, str], DataFrame]):
    """Make a registry entry's OUTPUT independent of the host timezone.

    Two OS-TZ leaks exist: (1) a vanilla session defaults
    ``spark.sql.session.timeZone`` to the JVM zone, which shifts any
    DATE->TIMESTAMP / string parse inside a plan, including the builders'
    NTZ->TIMESTAMP casts of the events ``ts`` (the readers write no conf
    and convert through no zone); (2) PySpark renders instant-TIMESTAMP
    columns through the OS zone in ``collect()``/``toPandas()``
    regardless of session timezone, while the DuckDB oracle returns
    naive UTC wall times — measured under TZ=Asia/Kolkata, every graded
    output carrying an instant TIMESTAMP read +05:30 off its oracle. So: pin the session
    zone, and surface instant TIMESTAMP outputs as TIMESTAMP_NTZ (the
    cast happens under the UTC pin, so the wall time IS the UTC
    instant). On a UTC host both changes are value-identical no-ops,
    and the harness canonicalizes tz flavors of timestamp together
    (round-2 evidence), so types hash the same.

    The pin is the one write to the caller's session conf on a registry
    path. It stays on the caller's session because ``collect`` runs after
    this wrapper returns, so scoping it would take a child session per
    call (about 50 ms of wall time each, measured on a 4-core host under
    ``local[4]``), and every writer writes the same value, so concurrent
    callers do not race.
    """
    from functools import wraps

    from pyspark.sql import functions as F, types as T

    def _has_nested_instant(dt: T.DataType) -> bool:
        """True if an instant TIMESTAMP hides below the top level, where
        the column-wise cast can't reach it (ADVICE r9 #3: an
        un-flattened F.window struct or collect_list of timestamps would
        silently leak the host timezone through collect())."""
        if isinstance(dt, T.StructType):
            return any(
                type(f.dataType) is T.TimestampType
                or _has_nested_instant(f.dataType)
                for f in dt.fields
            )
        if isinstance(dt, T.ArrayType):
            return (
                type(dt.elementType) is T.TimestampType
                or _has_nested_instant(dt.elementType)
            )
        if isinstance(dt, T.MapType):
            return any(
                type(t) is T.TimestampType or _has_nested_instant(t)
                for t in (dt.keyType, dt.valueType)
            )
        return False

    @wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = fn(spark, sf_dir)
        if any(
            type(f.dataType) is T.TimestampType for f in df.schema.fields
        ):
            df = df.select(
                *[
                    F.col(f.name).cast("timestamp_ntz").alias(f.name)
                    if type(f.dataType) is T.TimestampType
                    else F.col(f.name)
                    for f in df.schema.fields
                ]
            )
        leaky = [
            f.name for f in df.schema.fields if _has_nested_instant(f.dataType)
        ]
        if leaky:
            raise TypeError(
                f"{fn.__name__}: columns {leaky} contain NESTED instant "
                "TIMESTAMPs the tz-invariance rewrite cannot reach — emit "
                "TIMESTAMP_NTZ at the source (ADVICE r9 #3 / VERDICT r9 "
                "ask #8) or flatten the struct before returning"
            )
        return df

    # sentinel for the registry test: proves the wrapper applied to an
    # entry is THIS tz-invariance wrapper, not any functools.wraps shim
    # (ADVICE r10 #4)
    wrapped._tz_invariant = True
    return wrapped


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        overlap = out.keys() & m.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update({k: _tz_invariant(v) for k, v in m.QUERIES.items()})
    oracles = all_oracles()
    missing = [n for n in GRADED_PRIORITY if n not in out or n not in oracles]
    if missing:
        raise ValueError(f"GRADED_PRIORITY names missing or unoracled: {missing}")
    prio = set(GRADED_PRIORITY)
    return {
        **{k: out[k] for k in GRADED_PRIORITY},
        **{k: v for k, v in out.items() if k not in prio and k in oracles},
        **{k: v for k, v in out.items() if k not in oracles},
    }


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return out
