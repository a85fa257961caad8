"""Streaming plans surfaced as graded registry entries.

``trigger(availableNow=True)`` over a static source directory is
deterministic — the stream processes exactly the files present and stops —
so the streaming tumbling-window aggregate can be value-graded against the
SAME DuckDB oracle as its batch twin. This is the strongest form of
batch/stream parity: not a pytest equality, an external-oracle verdict on
the streaming execution path itself (source -> watermark -> stateful agg ->
sink).
"""

from __future__ import annotations

import contextlib
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .helpers import local_frame, materialize_reduced, registry

QUERIES, ORACLES, _register = registry()

# Upper bound on the adaptive state-partition count — a 100 TB/day
# deployment with a multi-hour watermark horizon derives thousands of
# partitions from the formula below; the cap keeps the shuffle-block
# count (M x R, guide §2.2) from exploding past what a real state store
# fleet runs with.
_STATE_PARTITIONS_CAP = 2048
# Target SOURCE bytes per state partition. State volume is a
# horizon-bounded fraction of source volume, so sizing partitions off
# the bytes the drain will actually process keeps per-partition state in
# the guide's 100 MB-1 GB band while never paying commit overhead for
# empty partitions.
_STATE_TARGET_BYTES = 256 << 20


def _adaptive_state_partitions(
    source_dir: str, glob: str = "events.parquet"
) -> int:
    """State-store shuffle-partition count derived from source VOLUME
    instead of core count (guide §2.2/§5; VERDICT r15 #4). Structured
    Streaming fixes the number of state-store partitions to
    ``spark.sql.shuffle.partitions`` at query start, and every stateful
    operator then pays one state-store commit PER PARTITION PER
    MICRO-BATCH regardless of how much state it holds — with
    partitions = cores, the r15 scaling run measured the interval joins
    ANTI-scaling (8 cores beat 32 by 2-4x) because 32 near-empty
    HDFS-backed stores commit serially-enough to dominate. Deriving the
    count from the bytes the drain will process (like AQE derives
    partition counts from runtime sizes) gives 1-few partitions on a
    KB-state local drain and thousands on a 100 TB backfill — the same
    code path, no local[32]-only constant. Returns 0 (run on the caller's
    session and its count) when the source cannot be listed (e.g. an
    object store path — a deployment there sizes via the FileSystem API).
    The listing is the scan memo's own (``io._file_versions``)."""
    from ..io import _file_versions

    total = sum(size for _, _, size in _file_versions(source_dir, glob))
    if total <= 0:
        return 0
    return max(1, min(_STATE_PARTITIONS_CAP, -(-total // _STATE_TARGET_BYTES)))


@contextlib.contextmanager
def _checkpoint(prefix: str):
    """A throwaway directory, removed when the block exits. For a
    checkpoint that is once the drain that used it has terminated: the
    drained rows live in the memory sink or the foreachBatch capture,
    never in the checkpoint. A parquet store or capture is removed only
    after the result read from it is materialized."""
    ckpt = tempfile.mkdtemp(prefix=prefix)
    try:
        yield ckpt
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _drain(
    stream_df: DataFrame, tag: str, output_mode: str = "complete"
) -> DataFrame:
    """``run_bounded`` into a fresh ``stream_<tag>_…`` memory table through
    a throwaway ``ckpt_<tag>_…`` checkpoint. The table's temp view is
    dropped before return: the returned DataFrame keeps the sink's rows,
    and the caller's catalog keeps no name for them."""
    from ..streaming import run_bounded

    name = f"stream_{tag}_{uuid.uuid4().hex[:8]}"
    try:
        with _checkpoint(f"ckpt_{tag}_") as ckpt:
            return run_bounded(stream_df, name, ckpt, output_mode)
    finally:
        stream_df.sparkSession.catalog.dropTempView(name)


def _scoped_session(spark: SparkSession, key: str, value: str) -> SparkSession:
    """A child of ``spark`` (``newSession``: same SparkContext, own SQL
    conf and temp views) carrying the caller's modifiable confs with
    ``key`` set to ``value``. Nothing set here reaches the caller."""
    child = spark.newSession()
    for k, v in spark.conf.getAll.items():
        if spark.conf.isModifiable(k):
            child.conf.set(k, v)
    child.conf.set(key, value)
    return child


def _q(name, oracle=None, adaptive_state=True):
    """Register a streaming query; the registered callable runs in a
    child session (``_scoped_session``) whose
    ``spark.sql.shuffle.partitions`` is the adaptive state-store count
    while the stream is built and drained, and the caller's count again
    once the call returns, so the returned DataFrame's batch tier plans
    as on the caller's session. The caller's session is never written.
    The drained sink tables the queries return are partition-count
    independent (verified by the standing local[7] regime probe and the
    per-query oracle mimics), so only the state-commit overhead changes.
    A StreamingQueryListener added to the caller's ``spark.streams`` does
    not see these drains: each session's listener bus forwards only the
    queries started in that session.

    ``adaptive_state=False`` opts a query out: it runs on the caller's
    session with the session's partitioning. That is correct for
    CUSTOM-Python-state operators (applyInPandasWithState /
    transformWithState), whose per-group PYTHON work is serialized by
    fewer partitions — the opposite trade from the built-in stateful
    operators, whose cost is the per-partition store commit (measured:
    streaming_user_totals regressed 4.0 -> 6.2 s under 1 partition while
    every built-in stateful entry improved 1.4-2.7x)."""

    def deco(fn):
        import functools

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            n = _adaptive_state_partitions(sf_dir) if adaptive_state else 0
            if n <= 0:
                return fn(spark, sf_dir)
            key = "spark.sql.shuffle.partitions"
            child = _scoped_session(spark, key, str(n))
            out = fn(child, sf_dir)
            # every drain has terminated: the batch tier over the drained
            # rows plans with the caller's count
            child.conf.set(key, spark.conf.get(key))
            return out

        return _register(name, oracle)(wrapped)

    return deco


@_q(
    "streaming_hourly_tumbling",
    # identical semantics to the batch events_hourly_tumbling oracle
    # (queries/events.py) — the stream drains the same static files
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_value
    FROM ev
    GROUP BY hour_start, event_type
    """,
)
def streaming_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked streaming tumbling-window aggregate, drained with
    ``availableNow`` and graded against the batch oracle. Unique memory-sink
    name + throwaway checkpoint per invocation so the entry is rerunnable
    within one session."""
    from ..streaming import hourly_tumbling_stream, read_events_stream

    return _drain(
        hourly_tumbling_stream(
            read_events_stream(spark, sf_dir, glob="events.parquet")
        ),
        "hourly",
    )


@_q(
    "streaming_sessionization",
    # the batch events_sessionization construction (lag + running sum),
    # projected to the session_window output shape (no session ordinal —
    # the native operator identifies sessions by interval, not rank)
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END
               AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def streaming_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native stateful ``session_window`` operator (30-min gap),
    drained with availableNow and graded against the batch lag+running-sum
    oracle — external-oracle proof that the streaming sessionizer and the
    batch construction agree interval-for-interval. (Gap boundary note:
    session_window treats an event landing exactly at prev+gap as a new
    session where the batch form merges it; event times here are
    microsecond-grained so exact boundaries cannot occur.)"""
    from ..streaming import read_events_stream, sessionization_stream

    return _drain(
        sessionization_stream(
            read_events_stream(spark, sf_dir, glob="events.parquet")
        ),
        "sess",
    )


@_q(
    "streaming_sliding_window",
    # identical semantics to the batch events_sliding_window oracle
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT win_start, event_type, COUNT(*) AS n_events
    FROM (
      -- epoch_ms() returns a NAIVE timestamp; to_timestamp() returns
      -- TIMESTAMPTZ whose cast to naive goes through the DuckDB session
      -- zone and shifted the oracle +05:30 under TZ=Asia/Kolkata
      SELECT epoch_ms((CAST(FLOOR(EXTRACT(epoch FROM ts) / 1800) AS BIGINT)
                       * 1800 - s.off * 1800) * 1000) AS win_start,
             event_type
      FROM ev, (SELECT UNNEST([0, 1]) AS off) s
    )
    GROUP BY win_start, event_type
    """,
)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hopping-window streaming aggregate drained with availableNow
    and graded against the batch oracle — with sessionization and
    tumbling this puts all three streaming window kinds under the
    external verdict."""
    from ..streaming import read_events_stream, sliding_window_stream

    return _drain(
        sliding_window_stream(
            read_events_stream(spark, sf_dir, glob="events.parquet")
        ),
        "slide",
    )


@_q(
    "streaming_dedup_exact",
    # the stream reads the SAME static file twice and unions the two reads
    # (every event delivered exactly twice); streaming dedup must collapse
    # it back to the source — so the oracle is simply the source table
    """
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under forced duplicate delivery: two
    readStream instances over the same static parquet are unioned (an
    at-least-twice source), then ``dropDuplicatesWithinWatermark`` on
    event_id repairs it to effectively-once. Drained with ``availableNow``
    and graded against the plain batch table — the strongest check that the
    stateful dedup operator drops exactly the re-deliveries and nothing
    else. State holds one key per event inside the watermark horizon, so
    memory is bounded by the horizon's key cardinality at 100 TB/day rates,
    unlike an unbounded ``dropDuplicates``."""
    from ..streaming import dedup_stream, read_events_stream

    once = read_events_stream(spark, sf_dir, glob="events.parquet")
    twice = once.unionAll(
        read_events_stream(spark, sf_dir, glob="events.parquet")
    )
    return _drain(dedup_stream(twice), "dedup", output_mode="append").select(
        "event_id", "user_id", "event_type", "value"
    )


@_q(
    "streaming_user_totals",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(COALESCE(value, 0) * 100) AS BIGINT)) AS BIGINT)
             AS total_fp
    FROM events
    GROUP BY user_id
    """,
    # custom-Python-state operator: per-group Python work needs the
    # session's parallelism, not the commit-minimizing partition count
    # (see _q's adaptive_state note)
    adaptive_state=False,
)
def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``applyInPandasWithState`` custom stateful operator surfaced as
    a registry entry: running per-user totals held in explicit group state
    (two scalars per user — bounded), drained with ``availableNow``. This
    is the extension point for stateful logic the built-in windowed
    operators can't express; here it doubles as the smoke check that the
    Arrow state path works under the external driver's vanilla session.

    Oracle-graded (previously rows-only): the state accumulates value in
    integer cents, so the drained totals equal the batch GROUP BY
    value-exact regardless of micro-batch split. Update mode may emit a
    user several times across batches; the event COUNT is strictly
    monotone per user (it only grows), so the final state is the row at
    MAX(n_events) — recovered with ``max_by``, which stays correct even
    for negative values (refunds), where a per-column MAX over the value
    sum would not be batching-safe."""
    from ..streaming import read_events_stream, user_totals_stream

    drained = _drain(
        user_totals_stream(read_events_stream(spark, sf_dir, glob="events.parquet")),
        "totals",
        output_mode="update",
    )
    return drained.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_fp", "n_events").alias("total_fp"),
    )


@_q(
    "streaming_click_attribution",
    # batch semantics of the stream-stream interval join: every click
    # matched to the same user's purchases within the following hour
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    c AS (
      SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
      FROM ev WHERE event_type = 'click'
    ), p AS (
      SELECT user_id AS p_user, ts AS purchase_ts, value AS purchase_value
      FROM ev WHERE event_type = 'purchase'
    )
    SELECT click_id, c_user, click_ts, purchase_ts, purchase_value
    FROM c JOIN p ON c_user = p_user
                 AND purchase_ts > click_ts
                 AND purchase_ts <= click_ts + INTERVAL 1 HOUR
    """,
)
def streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-STREAM interval join under the external oracle: clicks
    joined to the same user's purchases within the following hour
    (attribution), both sides watermarked, drained with ``availableNow``
    and value-graded against the equivalent batch join. With tumbling /
    sliding / session windows, stateful dedup, and the custom
    applyInPandasWithState operator, this completes the streaming operator
    matrix — joins were the one stateful family without a driver verdict.
    The bounded event-time range in the join condition is what lets Spark
    evict buffered rows at 100 TB/day; an unbounded-condition
    stream-stream join holds both streams' entire history in state.
    Purchase values pass through unaggregated, so no float-accumulation
    caveat applies."""
    from ..streaming import click_purchase_join_stream, read_events_stream

    return _drain(
        click_purchase_join_stream(
            read_events_stream(spark, sf_dir, glob="events.parquet")
        ),
        "attr",
        output_mode="append",
    )


@_q(
    "streaming_hourly_users",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour_start,
           COUNT(DISTINCT user_id) AS hau
    FROM ev
    GROUP BY 1
    """,
)
def streaming_hourly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hourly active users computed BY THE STREAMING ENGINE —
    event-time dedup chained into a windowed count (two stateful
    operators in one query, the Spark 3.5+ multi-stateful shape) drained
    availableNow and graded against the batch COUNT(DISTINCT) oracle.
    The streaming twin the DAU family was missing: tumbling counts and
    sessionization were graded, distinct-user windows were not."""
    from ..streaming import hourly_users_stream, read_events_stream

    return _drain(
        hourly_users_stream(
            read_events_stream(spark, sf_dir, glob="events.parquet")
        ),
        "hau",
    )


@_q(
    "streaming_segment_counts",
    # batch twin: same left join to the static customer dim + daily agg
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day_start,
           COALESCE(c.c_mktsegment, 'unknown') AS segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_value
    FROM ev LEFT JOIN customer c ON c.c_custkey = ev.user_id
    GROUP BY 1, 2
    """,
)
def streaming_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment under the external oracle: the event
    stream left-joins a broadcast static customer dimension
    (stateless per micro-batch — the lookup-join shape of every
    real-time personalization / attribution pipeline), then aggregates
    per (day, market segment). Drained with ``availableNow`` and graded
    against the identical batch join+agg — covering the one streaming
    join kind (stream-static) the stream-stream attribution entry
    doesn't."""
    from ..io import load_table
    from ..streaming import read_events_stream, segment_counts_stream

    return _drain(
        segment_counts_stream(
            read_events_stream(spark, sf_dir, glob="events.parquet"),
            load_table(spark, sf_dir, "customer"),
        ),
        "seg",
    )


@_q(
    "streaming_topk_per_window",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    agg AS (
      SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour_start,
             event_type, COUNT(*) AS n_events
      FROM ev GROUP BY hour_start, event_type
    ), ranked AS (
      SELECT hour_start, event_type, n_events,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY hour_start
               ORDER BY n_events DESC, event_type
             ) AS BIGINT) AS rank_in_hour
      FROM agg
    )
    SELECT hour_start, event_type, n_events, rank_in_hour
    FROM ranked WHERE rank_in_hour <= 3
    """,
)
def streaming_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k per event-time window: the watermarked tumbling
    hourly aggregate runs on the REAL streaming path (file source ->
    watermark -> stateful window agg, drained with ``availableNow``), and
    the per-hour top-3 ranking runs as a batch window over the drained
    complete-mode state — the standard two-tier shape, because rank is
    not an incremental aggregate (a per-batch rank over append-mode
    emissions would re-rank partial hours; complete-mode drain + rank is
    the deterministic, oracle-gradable form — the same reasoning that
    keeps append-mode window emission out of the graded surface). At
    100 TB the streaming tier shuffles only (hour, type) partial counts;
    the rank tier sees |hours x types| rows."""
    from pyspark.sql import Window

    from ..streaming import hourly_tumbling_stream, read_events_stream

    drained = _drain(
        hourly_tumbling_stream(
            read_events_stream(spark, sf_dir, glob="events.parquet")
        ),
        "topk",
    )
    return (
        drained.select("hour_start", "event_type", "n_events")
        .withColumn(
            "rank_in_hour",
            F.row_number()
            .over(
                Window.partitionBy("hour_start").orderBy(
                    F.desc("n_events"), "event_type"
                )
            )
            .cast("bigint"),
        )
        .filter(F.col("rank_in_hour") <= 3)
    )


@_q(
    "streaming_upsert_latest_event",
    # the drained entity store must equal the batch arg-max: one row per
    # user carrying their (ts, event_id)-latest event
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    r AS (
      SELECT user_id, event_id AS last_event_id, ts AS last_ts,
             event_type AS last_event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM ev
    )
    SELECT user_id, last_event_id, last_ts, last_event_type
    FROM r WHERE rn = 1
    """,
)
def streaming_upsert_latest_event(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming last-write-wins entity store maintained by foreachBatch
    (the CDC-consumer pattern): the events stream is drained with
    ``availableNow`` and every micro-batch is upserted into a parquet
    store keeping exactly one row per user — the (ts, event_id)-max
    event, a total order so any micro-batch split converges to the same
    store. Graded against the batch arg-max oracle, which makes this the
    strongest check on the foreachBatch merge path itself: the replay/
    batch-id idempotence protocol it shares with the rollup maintenance
    stream is pinned separately in tests/test_matview.py-style unit
    coverage. Store cost is O(|users|) per publish; at 100 TB the
    per-batch union+window merge becomes a bucketed MERGE into a table
    format (Delta/Iceberg), same semantics."""
    from ..streaming import upsert_maintenance_stream

    with _checkpoint("upsert_store_") as root:
        store = root + "/store"
        with _checkpoint("ckpt_upsert_") as ckpt:
            upsert_maintenance_stream(
                spark,
                sf_dir,
                store,
                ckpt,
                keys=["user_id"],
                ord_cols=["ts", "event_id"],
                glob="events.parquet",
            )
        out = spark.read.parquet(store).select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
        )
        # materialize before the store is removed; it is tiny (one row
        # per user)
        return materialize_reduced(out)


# Left-outer drain scope: watermark delay + join horizon, in microseconds.
# Clicks at or above min(max click_ts, max purchase_ts) minus this margin
# are not provably flushed by a bounded drain (round-10 measurement,
# commit 35e6bce), so the graded region stops strictly below the cutoff.
LEFTOUTER_MARGIN_US = (2 * 3600 + 3600) * 1_000_000


@_q(
    "streaming_leftouter_interval_join",
    f"""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    c AS (
      SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
      FROM ev WHERE event_type = 'click'
    ), p AS (
      SELECT user_id AS p_user, ts AS purchase_ts, value AS purchase_value
      FROM ev WHERE event_type = 'purchase'
    ), cutoff AS (
      SELECT LEAST((SELECT MAX(epoch_us(click_ts)) FROM c),
                   (SELECT MAX(epoch_us(purchase_ts)) FROM p))
             - {LEFTOUTER_MARGIN_US} AS cut_us
    )
    SELECT c.click_id, c.c_user, c.click_ts,
           p.purchase_ts, p.purchase_value
    FROM c
    LEFT JOIN p ON p.p_user = c.c_user
               AND p.purchase_ts > c.click_ts
               AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    CROSS JOIN cutoff
    WHERE epoch_us(c.click_ts) < cutoff.cut_us
    """,
)
def streaming_leftouter_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join under the external oracle —
    the outer-join state-timeout path the graded inner join
    (streaming_click_attribution) doesn't exercise: an unmatched click
    is held in state and emitted with NULL purchase columns only once
    the GLOBAL watermark (min of both inputs' max event time minus the
    2-hour delay) passes click_ts + the 1-hour band, on a final no-data
    micro-batch. Clicks inside that tail horizon never flush in a
    bounded drain (measured round 10: 209 of 210 rows, the stranded one
    at the click-side max), so BOTH the drained output and the batch
    oracle are scoped to click_ts strictly below
    min(max_c, max_p) - delay - band, computed deterministically from
    the static table — exactly how the watermark-lateness entries scope
    their graded region. Matched rows emit un-gated; the same cutoff
    applies to both sides so the compared sets agree."""
    from ..io import load_table
    from ..streaming import click_purchase_leftouter_stream, read_events_stream

    drained = _drain(
        click_purchase_leftouter_stream(
            read_events_stream(spark, sf_dir, glob="events.parquet")
        ),
        "louter",
        output_mode="append",
    )
    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    c_max = (
        ev.filter(F.col("event_type") == "click")
        .agg(F.max(F.unix_micros(ts)).alias("m"))
    )
    p_max = (
        ev.filter(F.col("event_type") == "purchase")
        .agg(F.max(F.unix_micros(ts)).alias("m"))
    )
    cutoff = (
        c_max.crossJoin(p_max.select(F.col("m").alias("m2")))
        .select(
            (
                F.least(F.col("m"), F.col("m2"))
                - F.lit(LEFTOUTER_MARGIN_US)
            ).alias("cut_us")
        )
    )
    return (
        drained.crossJoin(F.broadcast(cutoff))
        .filter(
            F.unix_micros(F.col("click_ts").cast("timestamp"))
            < F.col("cut_us")
        )
        .select(
            "click_id",
            "c_user",
            # emit-NTZ-at-source: the stream needs instant TIMESTAMPs for
            # its watermarks, so the NTZ cast happens here at the drained
            # boundary (pure reinterpretation under the UTC pin)
            F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
            "purchase_value",
        )
    )


@_q(
    "streaming_update_mode_topk",
    """
    WITH counts AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ), ranked AS (
      SELECT user_id, n_events,
             CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id)
                  AS BIGINT) AS rnk
      FROM counts
    )
    SELECT user_id, n_events, rnk FROM ranked WHERE rnk <= 10
    """,
)
def streaming_update_mode_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-mode semantics graded end-to-end: the streaming per-user
    event count emits CHANGED rows each micro-batch (update mode — the
    low-latency alternative to complete-mode re-emission), a
    foreachBatch sink appends every emission to a parquet capture, and
    the final state per user is recovered as MAX(n_events) — correct
    because a count is strictly monotone per user across batches (the
    same recovery argument as the graded stateful-totals entry). The
    global top-10 then ranks the recovered |users| state with a
    deterministic (count desc, user_id) tie-break. The capture dir is
    pre-seeded with an empty typed frame so a zero-row source still
    reads back cleanly. State is O(|users|); the rank tier sees the
    bounded recovered table, not the stream."""
    from ..streaming import read_events_stream

    with _checkpoint("upd_topk_") as root:
        sink_dir = root + "/capture"
        # repartition(1) guarantees a footer-bearing part file even for the
        # zero-row seed (an empty 0-partition write leaves only _SUCCESS and
        # the read-back cannot infer a schema)
        local_frame(
            spark, [], "user_id bigint, n_events bigint"
        ).repartition(1).write.mode("overwrite").parquet(sink_dir)
        counts = (
            read_events_stream(spark, sf_dir, glob="events.parquet")
            .groupBy("user_id")
            .agg(F.count("*").cast("bigint").alias("n_events"))
        )

        def _capture(batch_df, batch_id):
            batch_df.select("user_id", "n_events").write.mode(
                "append"
            ).parquet(sink_dir)

        with _checkpoint("ckpt_upd_topk_") as ckpt:
            q = (
                counts.writeStream.outputMode("update")
                .foreachBatch(_capture)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        state = (
            spark.read.parquet(sink_dir)
            .groupBy("user_id")
            .agg(F.max("n_events").cast("bigint").alias("n_events"))
        )
        from pyspark.sql import Window

        ranked = state.select(
            "user_id",
            "n_events",
            F.row_number()
            .over(Window.orderBy(F.col("n_events").desc(), "user_id"))
            .cast("bigint")
            .alias("rnk"),
        )
        out = ranked.filter(F.col("rnk") <= 10)
        # materialize before the capture is removed; 10 rows
        return materialize_reduced(out)


@_q(
    "streaming_append_mode_hourly",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    mx AS (
      SELECT CAST(DATE_TRUNC('hour', MAX(ts)) AS TIMESTAMP) AS mh FROM ev
    ), agg AS (
      SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour_start,
             event_type,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE)
               AS total_value
      FROM ev
      GROUP BY hour_start, event_type
    )
    SELECT a.hour_start, a.event_type, a.n_events, a.total_value
    FROM agg a CROSS JOIN mx
    WHERE a.hour_start < mx.mh - INTERVAL 3 HOUR
    """,
)
def streaming_append_mode_hourly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """APPEND-mode streaming hourly counts — the emission contract the
    complete-mode twin (streaming_hourly_tumbling) never exercises: in
    append mode a window row is emitted exactly once, when the
    watermark closes it, so the drained sink holds only FINALIZED
    windows. The graded region is scoped to windows provably flushed
    by the availableNow drain: the round-12 prototype measured the
    flush frontier at trunc_hour(max_ts) - (2 h watermark + 1 h
    window), so both sides keep hour_start STRICTLY below
    trunc_hour(max_ts) - 3 h — the boundary window itself is excluded,
    making the comparison immune to the frontier's off-by-one (the
    r10 left-outer drain-scope lesson, same discipline as
    streaming_leftouter_interval_join). The cutoff comes from the
    STATIC table max (1-row broadcast), so an empty source grades as
    empty on both sides. State is bounded by watermark delay + window
    width at any scale."""
    from ..io import load_table
    from ..streaming import hourly_tumbling_stream, read_events_stream

    emitted = _drain(
        hourly_tumbling_stream(
            read_events_stream(spark, sf_dir, glob="events.parquet")
        ),
        "append",
        output_mode="append",
    )
    mx = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.date_trunc("hour", F.max(F.col("ts").cast("timestamp"))).alias(
                "mh"
            )
        )
    )
    return (
        emitted.crossJoin(F.broadcast(mx))
        .filter(
            F.col("hour_start")
            < F.col("mh") - F.expr("INTERVAL 3 HOURS")
        )
        .select(
            # emit-NTZ-at-source (the left-outer precedent): the stream
            # needs instant TIMESTAMPs for its watermark, so the NTZ cast
            # happens at the drained boundary under the UTC pin
            F.col("hour_start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@_q(
    "streaming_fullouter_interval_join",
    f"""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    c AS (
      SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
      FROM ev WHERE event_type = 'click'
    ), p AS (
      SELECT user_id AS p_user, ts AS purchase_ts,
             event_id AS purchase_id, value AS purchase_value
      FROM ev WHERE event_type = 'purchase'
    ), cutoff AS (
      SELECT LEAST((SELECT MAX(epoch_us(click_ts)) FROM c),
                   (SELECT MAX(epoch_us(purchase_ts)) FROM p))
             - {LEFTOUTER_MARGIN_US} AS cut_us
    )
    SELECT c.click_id, c.c_user, c.click_ts,
           p.purchase_id, p.p_user, p.purchase_ts, p.purchase_value
    FROM c
    FULL OUTER JOIN p ON p.p_user = c.c_user
               AND p.purchase_ts > c.click_ts
               AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    CROSS JOIN cutoff
    WHERE COALESCE(epoch_us(c.click_ts), epoch_us(p.purchase_ts))
          < cutoff.cut_us
    """,
)
def streaming_fullouter_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER interval join under the external oracle
    — the final outer-join state surface beside the graded inner
    (streaming_click_attribution) and left-outer entries: unmatched
    PURCHASES now also sit in state until the global watermark proves
    no click can still open their band, then emit with NULL click
    columns on a late (possibly no-data) micro-batch. Drain scope
    measured during the round-13 build (sf0.01: 3941 of 3954 batch
    rows flushed; every stranded row's ANCHOR — click_ts when present,
    else purchase_ts — sat past min(max_c, max_p) - delay - band), so
    BOTH sides scope each row by COALESCE(click_ts, purchase_ts)
    strictly below that cutoff, computed deterministically from the
    static table. Same 2 h watermark / 1 h band as the left-outer
    twin; state stays bounded by delay + band at any scale."""
    from ..io import load_table
    from ..streaming import click_purchase_fullouter_stream, read_events_stream

    drained = _drain(
        click_purchase_fullouter_stream(
            read_events_stream(spark, sf_dir, glob="events.parquet")
        ),
        "fouter",
        output_mode="append",
    )
    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    c_max = (
        ev.filter(F.col("event_type") == "click")
        .agg(F.max(F.unix_micros(ts)).alias("m"))
    )
    p_max = (
        ev.filter(F.col("event_type") == "purchase")
        .agg(F.max(F.unix_micros(ts)).alias("m2"))
    )
    cutoff = c_max.crossJoin(p_max).select(
        (
            F.least(F.col("m"), F.col("m2")) - F.lit(LEFTOUTER_MARGIN_US)
        ).alias("cut_us")
    )
    anchor = F.coalesce(
        F.unix_micros(F.col("click_ts").cast("timestamp")),
        F.unix_micros(F.col("purchase_ts").cast("timestamp")),
    )
    return (
        drained.crossJoin(F.broadcast(cutoff))
        .filter(anchor < F.col("cut_us"))
        .select(
            "click_id",
            "c_user",
            F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
            "purchase_id",
            "p_user",
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
            "purchase_value",
        )
    )


@_q(
    "streaming_update_mode_user_totals",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(COALESCE(value, 0) * 100) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def streaming_update_mode_user_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UPDATE-mode per-user running totals graded on the LAST-EMISSION
    contract itself (ROADMAP_r14 #45): the BUILT-IN streaming groupBy
    aggregate (no custom state — the applyInPandasWithState twin is
    streaming_user_totals) emits each changed user's CURRENT totals
    per micro-batch into a foreachBatch parquet capture that records
    the batch_id; the final state per user is the row at MAX(batch_id)
    — update-mode's own contract, correct for NON-monotone aggregates
    too (a refund-bearing value sum breaks the max-recovery shortcut
    the top-k entry leans on; batch-id recovery does not care).
    Scope: availableNow drains every file, an unwatermarked per-user
    aggregate holds complete state, so the last emission per user
    equals the batch GROUP BY regardless of how the drain splits into
    micro-batches — that is the measured scope contract, with state
    O(|users|) at any scale. Value totals on the exact cents lattice."""
    from ..streaming import read_events_stream

    with _checkpoint("upd_totals_") as root:
        sink_dir = root + "/capture"
        local_frame(
            spark,
            [],
            "user_id bigint, n_events bigint, total_cents bigint,"
            " batch_id bigint"
        ).repartition(1).write.mode("overwrite").parquet(sink_dir)
        totals = (
            read_events_stream(spark, sf_dir, glob="events.parquet")
            .groupBy("user_id")
            .agg(
                F.count("*").cast("bigint").alias("n_events"),
                F.sum(
                    F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100, 0)
                    .cast("bigint")
                )
                .cast("bigint")
                .alias("total_cents"),
            )
        )

        def _capture(batch_df, batch_id):
            batch_df.select(
                "user_id",
                "n_events",
                "total_cents",
                F.lit(batch_id).cast("bigint").alias("batch_id"),
            ).write.mode("append").parquet(sink_dir)

        with _checkpoint("ckpt_upd_totals_") as ckpt:
            q = (
                totals.writeStream.outputMode("update")
                .foreachBatch(_capture)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        cap = spark.read.parquet(sink_dir)
        out = cap.groupBy("user_id").agg(
            F.max_by("n_events", "batch_id").cast("bigint").alias("n_events"),
            F.max_by("total_cents", "batch_id")
            .cast("bigint")
            .alias("total_cents"),
        )
        # materialize before the capture is removed; |users| rows
        return materialize_reduced(out)


@_q(
    "streaming_watermark_delay_sweep",
    """
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    mx AS (
      SELECT CAST(DATE_TRUNC('hour', MAX(ts)) AS TIMESTAMP) AS mh FROM ev
    ), agg AS (
      SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour_start,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM ev GROUP BY 1, 2
    ), d AS (
      SELECT CAST(1 AS BIGINT) AS delay_hours
      UNION ALL SELECT CAST(2 AS BIGINT)
      UNION ALL SELECT CAST(4 AS BIGINT)
    ), s AS (
      SELECT a.hour_start, a.event_type, a.n_events, mx.mh
      FROM agg a CROSS JOIN mx
    )
    SELECT d.delay_hours,
           CAST(COUNT(s.hour_start) AS BIGINT) AS n_windows,
           CAST(SUM(s.n_events) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT s.event_type) AS BIGINT) AS n_event_types
    FROM d LEFT JOIN s
      ON s.hour_start < s.mh - INTERVAL 1 HOUR * (d.delay_hours + 1)
    GROUP BY d.delay_hours
    """,
)
def streaming_watermark_delay_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark-delay sweep (ROADMAP_r15 #36): the append-mode drain
    contract measured as a TREND, not a point — the SAME hourly
    tumbling aggregate drained three times at watermark delays of
    1 h / 2 h / 4 h (separate checkpoints, separate sinks), each
    graded against the batch truth of ITS OWN provably-flushed
    region: hour_start strictly below trunc_hour(max_ts) -
    (delay + 1 h window), the measured availableNow flush frontier
    with the boundary window excluded (scope measurement defined
    per delay FIRST, per the wave-3 validate-first note; the 2 h leg
    reproduces the graded streaming_append_mode_hourly scope
    verbatim). A delay that drains fewer scoped windows than batch
    truth would hash-mismatch its row — so the entry pins that the
    emission frontier moves linearly with the configured delay, which
    is exactly the knob a 100 TB pipeline turns to trade latency for
    late-data tolerance. State stays bounded by delay + window width
    at every leg; output is three count rows (no timestamps emitted,
    so the frozen tz-wrapper census is untouched)."""
    from ..io import load_table
    from ..streaming import (
        hourly_tumbling_stream,
        read_events_stream,
        start_bounded,
    )

    mx = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.date_trunc("hour", F.max(F.col("ts").cast("timestamp"))).alias(
                "mh"
            )
        )
    )
    # The three legs are fully independent drains (own checkpoint, own
    # sink): start all three, then await each, so their micro-batch
    # harness latencies overlap instead of summing (guide-§2.6 overlap
    # of independent jobs). Per-leg results are byte-identical to the
    # sequential form — only the wall-clock changes.
    started = []
    legs = []
    # If any start/await raises, stop every still-active leg (ADVICE r15
    # #4): an orphaned StreamingQuery would keep running in the shared
    # session. The checkpoints and the sinks' temp views go once every
    # leg has terminated and been read.
    with contextlib.ExitStack() as scope:
        try:
            for hours in (1, 2, 4):
                name = f"stream_sweep_{hours}h_{uuid.uuid4().hex[:8]}"
                scope.callback(spark.catalog.dropTempView, name)
                q = start_bounded(
                    hourly_tumbling_stream(
                        read_events_stream(spark, sf_dir, glob="events.parquet"),
                        watermark=f"{hours} hours",
                    ),
                    name,
                    scope.enter_context(_checkpoint(f"ckpt_sweep_{hours}h_")),
                    output_mode="append",
                )
                started.append((hours, name, q))
            for hours, name, q in started:
                q.awaitTermination()
                _sweep_leg(spark, mx, hours, name, legs)
        except BaseException:
            for _, _, q in started:
                try:
                    if q.isActive:
                        q.stop()
                except Exception:
                    pass
            raise
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


def _sweep_leg(spark, mx, hours, name, legs):
    """Scope one drained sweep leg to its provably-flushed region and
    append its one-row aggregate to ``legs`` (split out of
    streaming_watermark_delay_sweep only for the try/finally shape —
    frames unchanged)."""
    emitted = spark.table(name)
    scoped = emitted.crossJoin(F.broadcast(mx)).filter(
        F.col("hour_start")
        < F.col("mh") - F.expr(f"INTERVAL {hours + 1} HOURS")
    )
    legs.append(
        scoped.agg(
            F.count("hour_start").cast("bigint").alias("n_windows"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.countDistinct("event_type")
            .cast("bigint")
            .alias("n_event_types"),
        ).select(
            F.lit(hours).cast("bigint").alias("delay_hours"),
            "n_windows",
            "n_events",
            "n_event_types",
        )
    )
