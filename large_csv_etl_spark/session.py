"""SparkSession construction with scale-aware defaults.

The reference hand-manages parallelism (ThreadPoolExecutor, chunk_size —
/root/reference/src/file_manager.py:105-147); here the equivalent knobs are
Spark confs. Defaults target local[N] testing but are chosen to also be the
right *shape* for a large cluster: AQE on (runtime coalescing + skew-join
handling), UTC session timezone (oracle-comparison determinism), Arrow
enabled for any pandas-UDF path.

For ``local`` masters the Python workers start through
``_worker/graft_daemon.py`` (``spark.python.daemon.module`` plus
``spark.executorEnv.PYTHONPATH`` set to that one directory). Spark calls
``importlib.invalidate_caches()`` at the start of every Python task, and on
CPython 3.11 that makes each zip importer re-read its archive's directory:
``pyspark.zip`` and the spark-core jar, about 0.1-0.2 s of CPU per task
and half of a ``streaming_user_totals`` pass's Python CPU. The daemon imports
PySpark from the unpacked ``$SPARK_HOME/python`` tree instead and drops the
jar from the worker path. With no unpacked tree it leaves the path as Spark
built it. Cluster masters get neither conf (their executors may not have
this file; see docs/DEPLOY_100TB.md). An ``extra_conf`` daemon module wins;
an ``extra_conf`` PYTHONPATH is kept, with ``WORKER_DIR`` appended so that
the daemon still starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory holding graft_daemon.py and nothing else: on the workers'
# PYTHONPATH it adds the daemon module without exposing this package.
WORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker")


def get_spark(
    app_name: str = "large_csv_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster, ``master`` comes from spark-submit and
    ``shuffle_partitions`` should be ~2-3x total executor cores (or left to
    AQE's coalescing with a high initial value). Locally we default to the
    CPU count exposed via $SPARK_GRAFT_CPUS (driver contract) or local[*].
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, dynamic
        # join-strategy switching. Essential at 100 TB, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic timestamp semantics for oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas UDF / toPandas boundaries.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dim tables (region/nation/supplier/part at small SF) broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # spark.sql.join.preferSortMergeJoin stays at its DEFAULT (true).
        # The r15 global =false flip was toggle-tested in isolation this
        # round (logs/r16/ab_smj.log, 7 join-heavy queries, paired runs):
        # wall geomean 1.018 in SHJ's favor — inside noise — while
        # busy-CPU geomean was 6.5% WORSE with SHJ and dedup_clusters did
        # 33% more work. Combined with the scale risk the r15 advisor
        # flagged (SHJ's build-side hash map is not spillable and the
        # planner's switch condition uses size ESTIMATES, so a
        # post-filter misestimate can OOM an executor at 100 TB where
        # sort-merge spills), the flag fails the keep rule ("geomean
        # improves and nothing regresses >10%") and is dropped. Per-query
        # SHUFFLE_HASH hints remain the escape hatch where SHJ provably
        # wins; none of the measured queries cleared that bar.
        # zstd for anything this engine writes (guide §6): smaller files
        # than snappy at similar scan speed. Read paths are unaffected.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Arrow path for any scalar Python UDF an extension registers
        # (guide §4.3); the engine itself ships none in query paths.
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    extra = dict(extra_conf or {})
    if master.startswith("local"):
        pypath = extra.pop("spark.executorEnv.PYTHONPATH", None)
        builder = builder.config(
            "spark.python.daemon.module", "graft_daemon"
        ).config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(p for p in (pypath, WORKER_DIR) if p),
        )
    for k, v in extra.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def release_blocks(spark: SparkSession) -> None:
    """Synchronously free persisted blocks between queries in a long-lived
    multi-query session.

    Operators that reference a reduced intermediate more than once
    materialize it via ``localCheckpoint`` (queries/helpers.py
    ``materialize_reduced``); the blocks live in executor storage until the
    async ContextCleaner notices the RDD is garbage. A battery that runs
    block-heavy queries back-to-back can allocate faster than the cleaner
    frees — the round-9 sf0.1 sweep OOM'd a vanilla 1 GiB-heap JVM with ~12
    queries' worth of checkpoint blocks still resident (each query passes
    solo), and the driver's round-9 bench battery showed the same class as
    up-to-10x timing inflation on the storage-heavy cluster (VERDICT r9
    ask #2). Explicit synchronous unpersist between queries is what any
    long-lived multi-query service does; it touches nothing about how the
    queries themselves execute or what they return. Shared by
    tools/drive_driver.py (correctness mimic) and bench.py (timed battery,
    called OUTSIDE the timed span).
    """
    try:
        jvm_rdds = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in list(jvm_rdds.values()):
            jrdd.unpersist(True)
        spark.catalog.clearCache()
    except Exception as exc:  # cleanup is best-effort, but never silent:
        # if the py4j private API this leans on ever changes, the round-9
        # OOM/timing-inflation protection would otherwise stop working
        # invisibly for both bench.py and the mimic (ADVICE r10 #2) — warn
        # once per process so battery logs show the breakage.
        global _RELEASE_WARNED
        if not _RELEASE_WARNED:
            _RELEASE_WARNED = True
            import sys

            print(
                f"release_blocks: cleanup failed ({type(exc).__name__}: "
                f"{exc}) — block-release protection is INACTIVE for this "
                "session",
                file=sys.stderr,
            )


_RELEASE_WARNED = False
