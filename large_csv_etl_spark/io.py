"""Sources and sinks (SURVEY.md §2a rows S1-S12).

The reference's 225-LoC chunk-management layer (read_csv_chunks/save_chunk/
combine_chunks, /root/reference/src/file_manager.py) collapses to Spark's
partitioned scans and writes. What remains engine code:

- permissive CSV scan with corrupt-record capture (E3 skip-bad-data intent,
  /root/reference/src/file_manager.py:70-103 — chunk-drop becomes row-level
  capture, strictly finer-grained fault tolerance);
- upsert-by-primary-key sink (S6 `INSERT OR REPLACE`,
  /root/reference/src/core/db_manager.py:116-166 — last-write-wins);
- table stats / integrity validation (A1-A6,
  /root/reference/src/core/db_manager.py:250-353).
"""

from __future__ import annotations

import fnmatch
import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import TRANSACTIONS_RAW, TEST_TABLES

CORRUPT_COL = "_corrupt_record"

# pandas 2.2's default NA sentinel set (pandas._libs.parsers.STR_NA_VALUES,
# minus '' which Spark's CSV reader already nulls via its default
# nullValue). The reference ingests with bare pd.read_csv
# (/root/reference/src/file_manager.py:42), so every one of these tokens
# reads as null in EVERY column there.
PANDAS_NA_TOKENS = [
    "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan",
    "1.#IND", "1.#QNAN", "<NA>", "N/A", "NA", "NULL", "NaN", "None",
    "n/a", "nan", "null",
]


def read_transactions_csv(
    spark: SparkSession,
    path: str,
    multiline: bool = False,
    na_tokens: bool = False,
) -> DataFrame:
    """Chunked CSV scan (S1/S2) as a single partitioned, schema'd scan.

    PERMISSIVE mode + corrupt-record column reproduces the reference's
    never-abort-on-bad-data intent (E3) at row granularity: malformed lines
    land in ``_corrupt_record`` instead of killing a whole chunk.

    ``multiline=True`` opts into full RFC-4180 parity with the reference's
    pandas parser: quoted fields may contain embedded newlines. The default
    stays False because multiLine disables newline-based file splitting —
    each file is read by ONE task, the wrong trade at 100 TB unless the
    input genuinely contains quoted newlines (without the flag such rows
    come back as one silently-truncated clean row plus one corrupt row —
    pinned in tests/test_io_sources.py).

    ``na_tokens=True`` opts into pandas NA-sentinel parity: the
    ``PANDAS_NA_TOKENS`` list ("NA", "NULL", "None", "n/a", ...) nulls in
    every column post-read, exactly as the reference's bare ``pd.read_csv``
    does — so a literal "NA" transaction_id drops (F1) and a "None" status
    fills (F3) instead of surviving as text. The match is exact-field
    (pandas does not trim before matching). Default False: the tokens are
    legal string payloads and silently nulling them is the riskier default
    for a generic engine; the row-local rewrite is a zero-shuffle map
    either way (pinned in tests/test_transform.py).
    """
    # Build a fresh StructType: StructType.add MUTATES the receiver in
    # place (and returns it), so calling it on the shared module-level
    # schema would grow it by one _corrupt_record field per invocation.
    schema = T.StructType(
        list(TRANSACTIONS_RAW.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    reader = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        # RFC-4180 / pandas-default quoting: a quote inside a quoted field
        # is escaped by DOUBLING it, and backslash is a literal character.
        # Spark's default escape is backslash, which both corrupts ""-
        # escaped fields (kept verbatim with their quotes) and silently
        # eats literal backslashes — pinned in tests.
        .option("escape", '"')
    )
    if multiline:
        reader = reader.option("multiLine", True)
    df = reader.csv(path)
    if na_tokens:
        df = df.select(
            *[
                F.when(F.col(c).isin(PANDAS_NA_TOKENS), None)
                .otherwise(F.col(c))
                .alias(c)
                for c in TRANSACTIONS_RAW.fieldNames()
            ],
            F.col(CORRUPT_COL),
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one driver test table. It writes no session conf.

    ``events.parquet`` has shipped ``ts`` two ways across driver
    revisions: parquet TIMESTAMP(NANOS), which Spark infers only as int64
    (``nanosAsLong``, set in ``inferred_parquet_schema``'s own session)
    and which is rebuilt here to a micros TimestampType with integer
    division (``div`` — a double division would lose precision above
    2^53, and epoch-nanos are ~1.7e18); and plain TIMESTAMP(MICROS)
    without isAdjustedToUTC, which reads as TIMESTAMP_NTZ and is returned
    as is. Either way both engines see bit-identical micros timestamps
    (nanos truncation matches DuckDB's ``CAST(ts_ns AS TIMESTAMP)``).
    Nothing here converts through a timezone: the NTZ->TIMESTAMP casts
    live in the registry builders, which run under ``_tz_invariant``'s
    UTC pin.

    The scan gets Spark's own inferred schema through
    ``inferred_parquet_schema``, so the footer inference runs once per
    version of the file, not on every call.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(inferred_parquet_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


# Spark's own inferred schema per parquet source, remembered with the
# version of the files it was inferred from:
# {(absolute path, glob, confs): (file versions, schema JSON)}.
_INFERRED: dict = {}
# The caller's confs that change what parquet schema inference returns.
# ``nanosAsLong`` is not one of them: inference always runs with it on.
_INFERENCE_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)


def _file_versions(path: str, glob: str | None) -> tuple:
    """``(path, mtime_ns, size)`` of every parquet file a scan of ``path``
    matches: the file itself, or the files under the directory whose name
    matches ``glob``, skipping the ``_``/``.`` names Spark skips. Empty
    when nothing local matches (an object-store path) or a file vanished
    while listed."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            files += [
                os.path.join(root, n)
                for n in names
                if not n.startswith(("_", "."))
                and (glob is None or fnmatch.fnmatchcase(n, glob))
            ]
    try:
        stats = [(f, os.stat(f)) for f in sorted(files)]
    except OSError:
        return ()
    return tuple((f, st.st_mtime_ns, st.st_size) for f, st in stats)


def inferred_parquet_schema(
    spark: SparkSession, path: str, glob: str | None = None
) -> T.StructType:
    """Spark's schema inference for the parquet files a scan of ``path``
    reads (``glob`` as ``pathGlobFilter``), run once per version of those
    files instead of once per call. A file rewritten in place (a new
    mtime or size) infers again; so does a path that cannot be listed
    locally, on every call. Each call gets its own ``StructType`` (they
    are mutable), rebuilt from the remembered JSON.

    Inference runs in a child session (``newSession``) carrying the
    caller's ``_INFERENCE_CONFS`` plus ``nanosAsLong``, so that a
    TIMESTAMP(NANOS) column infers as int64 instead of failing
    (PARQUET_TYPE_ILLEGAL) while the caller's conf is left alone. An
    explicit schema reads such a column as int64 with that conf unset."""
    confs = tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS)
    key = (os.path.abspath(path), glob, confs)
    versions = _file_versions(path, glob)
    hit = _INFERRED.get(key)
    if not (versions and hit and hit[0] == versions):
        child = spark.newSession()
        for c, v in zip(_INFERENCE_CONFS, confs):
            if v is not None:
                child.conf.set(c, v)
        child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        reader = child.read
        if glob:
            reader = reader.option("pathGlobFilter", glob)
        hit = (versions, reader.parquet(path).schema.json())
        if versions:
            _INFERRED[key] = hit
    return T.StructType.fromJson(json.loads(hit[1]))


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-aware parquet scan: ``mergeSchema`` unions the
    footers of every file under ``path``, so files written before a column
    was added read as NULL in that column instead of failing or silently
    dropping it. This is the read mode for a long-lived 100 TB table whose
    schema widened over time; the default (first-footer-wins) read stays
    the fast path for schema-stable tables because footer merging touches
    every file's metadata."""
    return spark.read.option("mergeSchema", True).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All driver test tables, keyed by name."""
    return {t: load_table(spark, sf_dir, t) for t in TEST_TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the test tables to spark.sql() as temp views."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """JSON-lines source (§2b scan row). With an explicit schema the scan
    is single-pass; without one Spark samples the files to infer (fine
    interactively, avoid at 100 TB). PERMISSIVE corrupt-record capture
    mirrors the CSV path's never-abort contract (E3)."""
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", CORRUPT_COL
    )
    if schema is not None:
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        reader = reader.schema(
            T.StructType(
                list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
            )
        )
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (§2b scan row): columnar like parquet — predicate
    pushdown, column pruning, and stripe-level min/max skipping all apply,
    so an ORC-resident warehouse plugs into every query here unchanged."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink, parallel per partition (same contract as write_table)."""
    df.write.mode(mode).orc(path)


def read_binary_dir(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Binary-file source (``binaryFile`` format): one row per file with
    ``(path, modificationTime, length, content: binary)`` — the ingestion
    path for raw media (images/audio/video) into the multimodal column
    layout. ``glob`` filters by pattern (e.g. ``*.jpg``). Each file is one
    row, so this is for many-small-media corpora; the scan parallelizes
    across files, and downstream ``multimodal.decode_payloads`` /
    ``resize_payloads`` consume the ``content`` column as the payload.
    Pair with ``spark.sql.files.maxPartitionBytes`` to balance tasks when
    file sizes are skewed."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Raw text-line source: one row per line, ``value: string`` — the
    ingestion path for unstructured corpora (logs, web text) before the
    documents-style analyses in queries/text.py. The scan splits large
    files on line boundaries, so a single 1 TB text file still fans out
    across the cluster."""
    return spark.read.text(path)


def profile_file(spark: SparkSession, path: str, sample_rows: int = 1000) -> dict:
    """S3 file profiler (/root/reference/src/file_manager.py:202-226):
    size + column list + a bounded sample — the `limit` pushes into the
    scan, so profiling a 100 TB table reads a handful of row groups."""
    import glob as _glob

    if path.endswith(".csv"):
        df = spark.read.option("header", True).csv(path)
    elif path.endswith(".json") or path.endswith(".jsonl"):
        df = spark.read.json(path)
    elif path.endswith(".orc"):
        df = spark.read.orc(path)
    else:
        df = spark.read.parquet(path)
    files = _glob.glob(path) if "*" in path else [path]
    size = sum(
        os.path.getsize(f)
        if os.path.isfile(f)
        else sum(
            os.path.getsize(os.path.join(d, n))
            for d, _, ns in os.walk(f)
            for n in ns
        )
        for f in files
        if os.path.exists(f)
    )
    sample = df.limit(sample_rows)
    return {
        "path": path,
        "size_bytes": size,
        "columns": df.columns,
        "dtypes": dict(df.dtypes),
        "sample_row_count": sample.count(),
    }


def write_table_clustered(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """S10 index analog (/root/reference/src/core/db_manager.py:89-114):
    the reference builds 4 secondary indexes after bulk load; the Spark
    equivalent is write-side clustering — bucketBy co-locates equal keys
    (joins/aggs on the bucket key skip the shuffle when both sides share
    the layout) and sortWithinPartitions gives parquet min/max stats teeth
    for range predicates. Bucketed output requires a table (metastore
    tracks the layout), not a bare path."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    writer = writer.sortBy(*(sort_cols or bucket_cols))
    writer.format("parquet").saveAsTable(table)


def upsert_by_key(
    df: DataFrame, key: str, order_col: str | list[str] | None = None
) -> DataFrame:
    """S6 `INSERT OR REPLACE` semantics: one row per key, last-write-wins.

    The reference keeps the *last* duplicate within a load
    (reference ``src/core/db_manager.py:135``). Every call runs the same
    plan: ``row_number`` over a window partitioned by ``key``, keeping
    rank 1, so the survivor is always one whole input row. With an
    explicit ``order_col`` (one column or a list) the window orders by it
    descending and we keep the lexicographic max per key — deterministic
    when the order columns are unique per key, or when they cover every
    output column (tied rows are then identical anyway). Without one the
    window orders by the key itself, so every row of a key ties and rank 1
    is an arbitrary one of them (documented deviation — input order is not
    a meaningful concept for a distributed scan).

    The key-ordered window replaces ``dropDuplicates``, whose ``first()``
    over string columns has no mutable hash-aggregate buffer: Spark planned
    it as interpreted sort-aggregates on both sides of the shuffle, building
    one ``first()`` buffer per column. The window plan sorts the same rows
    but keeps rank 1 with a row counter (Spark's group limit also drops a
    key's duplicates before the exchange) and moves whole rows.
    """
    if order_col is None:
        order_col = key
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Bulk load (S8/S9/S11). Parquet, parallel per partition — replaces the
    reference's single-threaded SQLite writer
    (/root/reference/src/core/db_manager.py:233). Overwrite mode doubles as
    truncate (S11)."""
    df.write.mode(mode).parquet(path)


# The written table's invariants: check name -> builder of its
# violating-row predicate — the reference's 7 validation queries
# (reference ``src/core/db_manager.py:326-346``). The A5 final-data
# checks (``transform.FINAL_CHECKS``) are three of these under the
# reference's other names.
INTEGRITY_CHECKS = {
    "null_transaction_id": lambda: F.col("transaction_id").isNull(),
    "null_user_id": lambda: F.col("user_id").isNull(),
    "null_amount": lambda: F.col("amount").isNull(),
    "null_status": lambda: F.col("status").isNull(),
    "null_processed_at": lambda: F.col("processed_at").isNull(),
    "negative_amounts": lambda: F.col("amount") < 0,
    "cancelled_status": lambda: F.lower(F.col("status")) == "cancelled",
}


def violation_counts(names) -> list:
    """``sum(when(...))`` aggregate columns counting the violating rows of
    the named ``INTEGRITY_CHECKS``, each aliased by its check name."""
    return [
        F.sum(F.when(INTEGRITY_CHECKS[n](), 1).otherwise(0)).alias(n)
        for n in names
    ]


def integrity_report(row) -> dict:
    """The A6 report from an aggregate row holding every check's count."""
    issues = {name: row[name] for name in INTEGRITY_CHECKS if row[name]}
    return {"is_valid": not issues, "issues": issues}


def validate_data_integrity(df: DataFrame) -> dict:
    """A6 conditional counts — all 7 checks in ONE scan via sum(when(...))
    map-side combine."""
    return integrity_report(df.agg(*violation_counts(INTEGRITY_CHECKS)).first())


def write_table_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Hive-style partitioned parquet layout — the 100 TB table layout:
    a query filtering on a partition column never opens the other
    directories (partition pruning happens at planning/AQE time, visible
    as ``PartitionFilters`` in the scan node).

    The partition columns should be low-cardinality (date, source,
    status): each distinct combination is a directory, and every writing
    task holds one open file per combination it sees — repartition by the
    partition columns first (done here) so each combination is written by
    one task, giving one file per partition instead of
    tasks x combinations small files.
    """
    writer = (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode(mode)
        .partitionBy(*partition_cols)
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files of
    ~``target_file_bytes`` (the classic maintenance job after streaming /
    incremental ingest, where each micro-batch leaves a file per task and
    the accumulated tiny files dominate scan planning time at scale).

    Sizes from the filesystem (no data scan), then one coalesce-write:
    ``coalesce`` avoids a shuffle — each output task concatenates whole
    input partitions. Returns the number of output files.

    Single-writer, OFFLINE maintenance only: the rewrite stages into a
    sibling temp dir then swaps via two directory renames, and between
    them the table path is briefly absent — concurrent readers during the
    swap can see a missing directory. The ``__old`` backup is kept until
    the new directory is in place, so a crash mid-swap always leaves a
    recoverable copy (at ``path`` or ``path__old``), but the swap itself
    is not atomic. Table formats with a transaction log (Delta/Iceberg)
    are the online answer; this is the plain-parquet maintenance job.
    """
    import shutil
    from pathlib import Path

    p = Path(path)
    data_files = [f for f in p.rglob("*.parquet") if f.is_file()]
    total = sum(f.stat().st_size for f in data_files)
    n_out = max(1, -(-total // target_file_bytes))  # ceil div
    tmp = str(p.parent / (p.name + "__compacting"))
    spark.read.parquet(path).coalesce(int(n_out)).write.mode("overwrite").parquet(tmp)
    bak = str(p.parent / (p.name + "__old"))
    # A stale backup from a crashed prior run must be cleared first:
    # shutil.move into an EXISTING directory nests the live table inside
    # it ("path__old/<name>"), leaving the crash-recovery copy somewhere
    # the documented procedure doesn't look. The live table at ``path``
    # still holds the data, so dropping the stale backup is safe.
    # lexists + is_dir branching: a stale ``__old`` that is a regular file
    # or (dangling) symlink would make rmtree raise NotADirectoryError and
    # abort the compaction after the temp dir was already written.
    bak_p = Path(bak)
    if bak_p.is_dir() and not bak_p.is_symlink():
        shutil.rmtree(bak)
    elif os.path.lexists(bak):
        os.remove(bak)
    shutil.move(path, bak)
    shutil.move(tmp, path)
    shutil.rmtree(bak)
    return int(n_out)
