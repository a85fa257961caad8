"""Structured Streaming variants of the event analytics (§2b event-time
rows; the batch forms live in ``queries.events``).

Same logical plans over ``readStream``: tumbling event-time windows,
gap-based sessionization (``session_window`` — the stateful operator the
batch form emulates with lag+cumsum), and sketch-based DAU. Watermarks
bound the state store: late events beyond the watermark are dropped and
closed windows are evicted — this is what makes the operators runnable
forever at 100 TB/day, not just on a bounded backfill.

Batch/stream parity (tested): running the streaming plans over a bounded
file source with ``trigger(availableNow=True)`` produces exactly the batch
answers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import inferred_parquet_schema
from .queries.helpers import dsum

# Explicit source schema (streams cannot infer). The events fixture has
# shipped ``ts`` two ways across driver revisions — int64 TIMESTAMP(NANOS)
# (requested as ``long``, then rebuilt to micros) and plain
# TIMESTAMP(MICROS) without isAdjustedToUTC (footer type TIMESTAMP_NTZ,
# requested as ``timestamp``: the reader takes the stored micros as the
# instant, with no timezone shift) — so the reader probes the static
# footer and adapts instead of pinning one.
_EVENTS_STREAM_FIELDS = (
    "event_id long, ts {ts_type}, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(
    spark: SparkSession, source_dir: str, glob: str | None = None
) -> DataFrame:
    """File-source stream over a directory of events parquet files — new
    files are discovered per micro-batch (the bounded-backfill and
    continuous-ingest cases look identical to the query). ``glob``
    restricts which files in the directory belong to the stream (e.g.
    ``events.parquet`` inside a mixed-table test-data dir).

    The ``ts`` event-time column always comes out as a (micros-precision)
    TIMESTAMP regardless of which physical layout the source files use;
    watermarks (which reject TIMESTAMP_NTZ) and windows downstream never
    see the difference, and the session conf is never written. The layout
    comes from Spark's schema inference over the static files, run once
    per version of those files (``io.inferred_parquet_schema``) before the
    stream plan is built — file-source schemas are fixed per query, so
    this is the one place the layout decision can live."""
    footer = inferred_parquet_schema(spark, source_dir, glob)["ts"]
    footer_type = footer.dataType.simpleString()
    ts_type = {"bigint": "long", "timestamp_ntz": "timestamp"}.get(
        footer_type, footer_type
    )
    reader = spark.readStream.schema(_EVENTS_STREAM_FIELDS.format(ts_type=ts_type))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.parquet(source_dir)
    if ts_type == "long":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def hourly_tumbling_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of events_hourly_tumbling: tumbling 1-hour windows
    with a watermark bounding how long an hour stays open for late data."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def segment_counts_stream(
    events: DataFrame,
    customers: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static enrichment: join the event stream to a STATIC
    dimension (customer market segment, keyed c_custkey = user_id) and
    aggregate per (day, segment). The static side is broadcast — a
    stream-static equi-join is stateless in Structured Streaming (each
    micro-batch joins against the dimension as-of that batch), so the
    only state is the windowed count. Unmatched users fall into
    'unknown' via the left join, exactly as the batch twin does. At
    100 TB the dimension stays broadcast-sized or becomes a
    slowly-changing table re-read per batch — either way no stream
    shuffle is added beyond the window aggregate's own."""
    dim = F.broadcast(
        customers.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    enriched = events.join(dim, "user_id", "left").withColumn(
        "segment", F.coalesce(F.col("segment"), F.lit("unknown"))
    )
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "segment")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("day_start"),
            "segment",
            "n_events",
            "total_value",
        )
    )


def sessionization_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of events_sessionization using the native
    ``session_window`` stateful operator (30-min inactivity gap); a session
    closes — and its state is evicted — once the watermark passes its end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def dau_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming twin of events_dau_approx: daily windows + HLL++ distinct
    (fixed-size state per day — the only viable distinct at stream scale)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("dau_approx"),
            F.count("*").alias("n_events"),
        )
        .select(F.col("w.start").alias("day_start"), "dau_approx", "n_events")
    )


def run_bounded(
    stream_df: DataFrame,
    name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain a bounded stream into an in-memory table and return it:
    ``availableNow`` processes everything currently in the source and
    stops — the standard pattern for testing a streaming plan and for
    incremental backfills that share the production query."""
    q = start_bounded(stream_df, name, checkpoint_dir, output_mode)
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def start_bounded(
    stream_df: DataFrame,
    name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
):
    """Start (without awaiting) a bounded availableNow drain into the
    ``name`` in-memory table; returns the StreamingQuery. Lets a caller
    with several INDEPENDENT drains (separate checkpoints and sinks)
    start them all and then await each — Spark schedules concurrent
    queries' micro-batches side by side, so the per-drain harness
    latencies (batch planning, state-store commits, the no-data
    watermark-flush batch) overlap instead of summing."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_transactions_stream(spark: SparkSession, csv_dir: str) -> DataFrame:
    """Streaming twin of io.read_transactions_csv: new CSV files landing in
    ``csv_dir`` are picked up per micro-batch with the same PERMISSIVE
    corrupt-record capture."""
    from pyspark.sql import types as T

    from .io import CORRUPT_COL
    from .schemas import TRANSACTIONS_RAW

    schema = T.StructType(
        list(TRANSACTIONS_RAW.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    return (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(csv_dir)
    )


def transactions_etl_stream(
    spark: SparkSession,
    csv_dir: str,
    output_path: str,
    checkpoint_dir: str,
):
    """The reference's flagship ETL (E7) as a CONTINUOUS pipeline: the
    transform core is pure column expressions (stateless), so the exact
    batch plan runs unchanged over readStream — files dropped into
    ``csv_dir`` stream through clean/rules/normalize into the parquet
    table incrementally, with exactly-once sink semantics from the
    checkpoint. (Upsert-by-key is intentionally NOT applied here:
    cross-batch dedup in a stream needs watermarked state; run
    io.upsert_by_key as a periodic batch compaction instead.)

    Returns the StreamingQuery (caller stops/awaits it).
    """
    from .io import CORRUPT_COL
    from .transform import transform

    raw = read_transactions_stream(spark, csv_dir)
    good = raw.filter(raw[CORRUPT_COL].isNull()).drop(CORRUPT_COL)
    out = transform(good)
    return (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within the
    watermark horizon (``dropDuplicatesWithinWatermark``). This is the
    streaming twin of ``queries.dedup.dedup_exact_*`` and the standard
    at-least-once -> effectively-once repair for replayed sources: state
    holds one entry per key only until the watermark passes it, so state
    size is bounded by the horizon's key cardinality — plain
    ``dropDuplicates`` on a stream would grow state forever."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def click_purchase_join_stream(
    events: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each click joined to the same user's
    purchases within ``horizon`` after it (attribution). Both sides carry
    watermarks and the join condition bounds the event-time range, which is
    what lets Spark evict buffered rows — an unbounded-condition
    stream-stream join would hold both streams' full history in state.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"""c_user = p_user
            AND purchase_ts > click_ts
            AND purchase_ts <= click_ts + INTERVAL {horizon}"""
        ),
    ).select("click_id", "c_user", "click_ts", "purchase_ts", "purchase_value")


def user_totals_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user totals (event count + value sum) maintained in explicit group
    state — the escape hatch for aggregation logic the built-in windowed
    operators can't express. State per user is two scalars; each
    micro-batch emits the group's current totals (update mode).

    The value sum is held in integer cents (``round(value * 100)`` per
    row, exact for the 2dp money values): a float accumulator's result
    would depend on micro-batch split and arrival order, but the integer
    state is identical for ANY batching — which both makes replay/
    restart reconciliation trivial at scale and lets the external
    DuckDB oracle grade the drained totals value-exact
    (``streaming_user_totals``, previously rows-only).

    Arrow-batched; the state function is defined inline so it pickles by
    value (a module-global would pickle as a reference and fail import on
    executors that don't have the repo on sys.path). Only ``user_id`` and
    ``value`` cross to Python: the projection sits above the watermark, so
    the event-time maximum is still tracked, and under ``NoTimeout`` the
    operator filters no late rows with or without ``ts`` (a row behind the
    watermark is counted either way; pinned in tests/test_streaming.py).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(key, pdfs, state: GroupState):
        import pandas as pd  # worker-side import

        n = 0
        total_fp = 0
        for pdf in pdfs:
            n += len(pdf)
            total_fp += int(
                (pdf["value"].fillna(0.0) * 100).round().astype("int64").sum()
            )
        if state.exists:
            prev_n, prev_total = state.get
            n += prev_n
            total_fp += prev_total
        state.update((n, total_fp))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_fp": [total_fp]}
        )

    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_totals,
            outputStructType="user_id long, n_events long, total_fp long",
            stateStructType="n long, total_fp long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sliding_window_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of events_sliding_window: 1-hour windows hopping
    every 30 minutes (each event in exactly 2 windows); watermark bounds
    the open-window state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
    )


def merge_batch_into_store(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    keys: list[str],
    sum_cols: dict[str, str],
) -> None:
    """One idempotent-under-replay merge of a micro-batch delta into the
    parquet rollup store (the foreachBatch body of
    :func:`matview_maintenance_stream`; module-level so the replay
    contract is directly testable). See that docstring for the swap and
    batch-id protocol."""
    from pathlib import Path

    from .matview import build_rollup, merge_rollup

    store = Path(store_path)

    if store.exists() and _applied_batch_id(store_path) >= batch_id:
        return  # replay of a batch the store already contains
    delta = build_rollup(batch_df, keys, sum_cols)
    if store.exists():
        current = spark.read.parquet(store_path)
        merged = merge_rollup(current, delta, keys)
    else:
        merged = delta
    _publish_store(store_path, merged, batch_id)


def _applied_batch_id(store_path: str) -> int:
    """The batch id recorded inside the published store (-1 if none)."""
    from pathlib import Path

    marker = Path(store_path) / "_applied_batch_id"
    if marker.exists():
        return int(marker.read_text().strip())
    return -1


def _publish_store(store_path: str, merged: DataFrame, batch_id: int) -> None:
    """Write ``merged`` as the new store contents and publish atomically.

    Shared by the additive-rollup and last-write-wins maintenance paths:
    the applied batch_id travels WITH the data directory (sidecar written
    before publish; parquet readers ignore ``_``-prefixed files), and the
    store path is a symlink republished with ``os.replace`` — readers see
    the old store or the new one, never a half-written directory.
    """
    import os
    import shutil
    from pathlib import Path

    data = f"{store_path}__data_b{batch_id}"
    merged.coalesce(1).write.mode("overwrite").parquet(data)
    Path(data, "_applied_batch_id").write_text(str(batch_id))
    # Atomic publish: build the new symlink beside the store, then
    # os.replace it into place.
    link_tmp = f"{store_path}__link_b{batch_id}"
    if os.path.lexists(link_tmp):
        os.remove(link_tmp)
    # A relative symlink target resolves against the LINK's directory, so
    # the target must be the sibling data dir's basename — embedding the
    # full store_path (e.g. "out/rollup__data_b0") would resolve to
    # "out/out/rollup__data_b0" and dangle for any store path that has a
    # directory component.
    os.symlink(os.path.basename(data), link_tmp)
    store = Path(store_path)
    prev: str | None = None
    if store.is_symlink():
        # readlink yields the stored (relative, basename) target; resolve
        # it against the link's directory before comparing or deleting
        prev = os.path.join(os.path.dirname(store_path), os.readlink(store_path))
    elif store.exists():
        # legacy real-directory store (pre-symlink layout): move it
        # aside so the symlink can take its place
        prev = f"{store_path}__legacy_b{batch_id}"
        shutil.move(store_path, prev)
    os.replace(link_tmp, store_path)
    if prev and os.path.abspath(prev) != os.path.abspath(data):
        shutil.rmtree(prev, ignore_errors=True)


def upsert_batch_into_store(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    keys: list[str],
    ord_cols: list[str],
) -> None:
    """One idempotent-under-replay LAST-WRITE-WINS upsert of a micro-batch
    into a parquet entity store (the foreachBatch body of
    :func:`upsert_maintenance_stream`): union the current store with the
    delta, keep exactly one row per key — the maximum of ``ord_cols``
    (lexicographic, so pass a total order, e.g. [ts, event_id]) — and
    republish. This is the streaming analog of the batch S6 upsert
    (io.upsert_write / /root/reference/src/core/db_manager.py:116-166
    semantics scaled out): the store is O(|keys|), each batch costs
    O(|delta| + |store|), and because "keep the (ts, event_id)-max row
    per key" is an idempotent, commutative-over-batches reduction, ANY
    micro-batch split of the input produces the identical final store —
    same replay/batch-id protocol as the rollup maintenance path."""
    from pathlib import Path

    from pyspark.sql import Window
    from pyspark.sql import functions as SF

    if Path(store_path).exists() and _applied_batch_id(store_path) >= batch_id:
        return  # replay of a batch the store already contains
    delta = batch_df
    if Path(store_path).exists():
        current = spark.read.parquet(store_path)
        delta = current.unionByName(delta)
    w = Window.partitionBy(*keys).orderBy(
        *[SF.col(c).desc() for c in ord_cols]
    )
    merged = (
        delta.withColumn("_rn", SF.row_number().over(w))
        .filter(SF.col("_rn") == 1)
        .drop("_rn")
    )
    _publish_store(store_path, merged, batch_id)


def upsert_maintenance_stream(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    checkpoint_dir: str,
    keys: list[str],
    ord_cols: list[str],
    glob: str | None = None,
) -> None:
    """Streaming last-write-wins entity-store maintenance: every
    micro-batch of new files is upserted into the parquet-backed store
    via ``foreachBatch`` — the CDC-consumer pattern that keeps a current-
    state table (latest row per key) fresh without reprocessing history.
    Exactly-once under replay via the shared batch-id + atomic-symlink
    protocol (see :func:`matview_maintenance_stream`); single-writer
    contract per store."""
    stream = read_events_stream(spark, source_dir, glob=glob)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_batch_into_store(
            spark, batch_df, batch_id, store_path, keys, ord_cols
        )

    q = (
        stream.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def matview_maintenance_stream(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    checkpoint_dir: str,
    keys: list[str],
    sum_cols: dict[str, str],
    glob: str | None = None,
) -> None:
    """Streaming incremental-matview maintenance: every micro-batch of new
    files is partial-aggregated (count + exact decimal sums) and merged
    into the parquet-backed rollup via ``foreachBatch`` — the production
    pattern for keeping a 100 TB rollup fresh at O(|delta| + |rollup|)
    per batch instead of O(|base|) per rebuild. Decimal addition is
    associative, so any micro-batch partitioning of the input yields
    bit-identical state to one full rebuild (asserted in tests).

    The checkpoint alone does NOT make foreachBatch exactly-once: if the
    process dies after the store swap but before the streaming checkpoint
    commits, the batch is replayed and would re-merge a delta the store
    already contains. Two mechanisms close the gap:

    - the applied batch_id travels WITH the store (an ``_applied_batch_id``
      sidecar written into the data directory before it is published;
      parquet readers ignore ``_``-prefixed files), and a replayed
      batch_id <= the recorded one is skipped — merge_batch is idempotent
      under replay, which is the actual exactly-once contract;
    - the store path is a symlink republished with ``os.replace`` (atomic
      on POSIX), so readers see the old store or the new one, never a
      missing or half-written directory.

    Single-writer maintenance contract (one maintenance stream per store);
    concurrent readers race only against the previous data directory being
    deleted after cutover, same as any compact-and-swap layout.
    """
    reader = spark.readStream.schema(
        spark.read.parquet(source_dir).schema
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    stream = reader.parquet(source_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_into_store(
            spark, batch_df, batch_id, store_path, keys, sum_cols
        )

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch: real deltas
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def user_totals_tws_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-user running totals on the state-v2 API
    (``transformWithStateInPandas`` + ``StatefulProcessor``) — the
    Spark-4-native replacement for applyInPandasWithState used by
    ``user_totals_stream``. State is one (count, total) ValueState per
    user: O(|users|) store size, no growth with stream length; each
    micro-batch updates from Arrow batches. Kept alongside the legacy
    operator so both custom-state surfaces stay exercised.

    Everything the workers need is defined inside this function (pickled
    by value — the driver harness's workers cannot import this package).

    ENVIRONMENT GATE: the state-v2 protocol speaks protobuf between the
    JVM and its Python driver worker; without a working ``google.protobuf``
    the worker crashes opaquely mid-query
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE), so the dependency is
    checked here and surfaced as NotImplementedError up front. The legacy
    ``user_totals_stream`` (applyInPandasWithState) covers the same
    semantics with no extra dependency.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "transformWithStateInPandas requires a working google.protobuf "
            "(absent in this container); use user_totals_stream instead"
        ) from exc
    # state-v2 runs only on the RocksDB state store (the scale-correct
    # choice anyway: state spills to disk instead of living on-heap)
    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n, total = 0, 0.0
            if self._state.exists():
                n, total = self._state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            Totals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="ProcessingTime",
        )
    )


def hourly_users_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact hourly active users: event-time dedup on
    (user_id, hour) chained into a windowed count — two stateful
    operators in one query (supported since the multi-stateful work in
    Spark 3.5+ when event time flows through both). The dedup uses
    dropDuplicatesWithinWatermark (Spark 3.5+), which evicts state by
    the watermark even though the dedup keys carry no event-time
    column — plain dropDuplicates on a derived hour column would grow
    state without bound in a continuous run (ADVICE r6). Exactness
    holds because duplicate (user_id, hour) pairs are at most 1 hour
    apart in event time, well inside the 2-hour watermark horizon; the
    count state is bounded by open windows. This is the exact-distinct
    form; at 100 TB switch the dedup stage for approx_count_distinct
    partials unless exactness is contractual."""
    hour = F.date_trunc("hour", F.col("ts"))
    return (
        events.withColumn("hour_start", hour)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "hour_start"])
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("hau"))
        .select(F.col("w.start").alias("hour_start"), "hau")
    )


def click_purchase_leftouter_stream(
    events: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click emits exactly
    once — joined to each same-user purchase in the following ``horizon``,
    or with NULL purchase columns once the watermark proves no purchase
    can still arrive. The outer side is the custom-state surface the
    inner-join twin doesn't exercise: Spark holds the unmatched click in
    state until the GLOBAL watermark (min of both inputs' max event time,
    minus the delay) passes click_ts + horizon, then emits the NULL row
    on a subsequent (possibly no-data) micro-batch. Clicks inside the
    tail horizon min(max_c, max_p) - delay - horizon NEVER flush in a
    bounded drain (measured round 10, commit 35e6bce) — callers must
    scope any exact comparison to click_ts strictly below that cutoff."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"""c_user = p_user
            AND purchase_ts > click_ts
            AND purchase_ts <= click_ts + INTERVAL {horizon}"""
        ),
        "leftOuter",
    ).select(
        "click_id", "c_user", "click_ts", "purchase_ts", "purchase_value"
    )


def click_purchase_fullouter_stream(
    events: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream FULL OUTER interval join: the left-outer twin's
    state machine extended to the purchase side — an unmatched purchase
    is also held in state and emitted with NULL click columns once the
    global watermark proves no click can still open its band (clicks
    matching purchase p carry click_ts in [p - horizon, p)). Flush
    frontiers measured during the round-13 build (sf0.01 drain vs the
    batch full outer): click-anchored rows behave exactly like the
    left-outer entry (flush below min(max_c, max_p) - delay - horizon);
    purchase-only rows flush below the SAME cutoff — callers scope each
    row by its own anchor (click_ts when present, else purchase_ts)
    strictly below that cutoff."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"""c_user = p_user
            AND purchase_ts > click_ts
            AND purchase_ts <= click_ts + INTERVAL {horizon}"""
        ),
        "fullOuter",
    ).select(
        "click_id",
        "c_user",
        "click_ts",
        "purchase_id",
        "p_user",
        "purchase_ts",
        "purchase_value",
    )
