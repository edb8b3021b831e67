"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same configs are the ones we
would set on a real cluster (AQE, Arrow, shuffle partitions sized to
cores). Parallelism is expressed through partitioning, never threads
(reference src/lib.rs:228-254 uses a thread pool; our analog is Spark
task parallelism — SURVEY.md §4 X4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` unless set: $SPARK_DRIVER_MEM, else half
    of physical memory (``phys_bytes``, default this host's). In local
    mode the driver heap is the executors' heap too; half leaves the
    rest to the Python workers and the page cache."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys_bytes // 2**21}m"


def get_spark(
    app_name: str = "hyperpolyglot_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or 32. ``shuffle_partitions``
    defaults to 2x cores — small enough to avoid tiny-task overhead at
    test scale, and AQE coalesces further at runtime; on a real cluster
    this would scale with executor count.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)

    builder = SparkSession.builder
    # Under spark-submit the gateway JVM already exists and carries the
    # real master (yarn/k8s/standalone) — don't override it with local[N].
    # PYSPARK_GATEWAY_PORT is set only when spark-submit launched us.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
        )
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Rows carry ~50KB html payloads: a 10k-row Arrow batch is
        # ~500MB of buffer churn per python worker and serializes the
        # JVM->python queue. 256-row batches measured 2.5-4x faster on
        # the 32-core pipeline leg (26k vs 3.5-10k docs/sec, 300k
        # pages); cheap small-row UDFs lose only ~ms per batch.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "256"),
        )
        # Same lesson on the SCAN side: the vectorized parquet reader
        # reserves batch-size rows per column vector, so the default
        # 4096 with ~50KB html rows is ~200MB per task — 32 tasks OOM
        # a spark-submit driver left at its default 1g heap. 512 caps
        # reader memory at ~25MB/task; plain-row scans lose nothing
        # measurable.
        .config(
            "spark.sql.parquet.columnarReaderBatchSize",
            os.environ.get("SPARK_GRAFT_READER_BATCH", "512"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
        .config(
            "spark.serializer", "org.apache.spark.serializer.KryoSerializer"
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows_df(spark: SparkSession, rows, schema: str, slices: int | None = None):
    """createDataFrame for SMALL driver-local row lists (fixtures, dim
    tables, meta rows).

    The default ``createDataFrame(list)`` path parallelizes the pickled
    rows into defaultParallelism slices (32 here), and EVERY evaluation
    of the frame then pays one Python-runner round trip per slice —
    measured r07: a one-row meta table behind ``coalesce(1)`` evaluated
    its 32 slices sequentially at ~120 ms each (4-5 s per write), and
    each fixture query burned ~0.3 s evaluating 30 empty slices.
    Pinning the slice count to a handful (1 per ~128 rows, max 4) keeps
    these frames at a few tasks with identical schema/row semantics.
    Only for driver-local lists that are small by construction — corpus
    data never goes through this path."""
    n = slices or max(1, min(4, (len(rows) + 127) // 128))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n), schema
    )


# ----------------------------------------------------------------------
# per-application broadcast cache for frozen singletons
# ----------------------------------------------------------------------
# The default NB/LM models are immutable per-process singletons, but
# every make_*_udf call used to broadcast a FRESH copy: the driver
# re-pickles ~10MB and all N python workers re-unpickle it on first
# touch — measured 4-9s of the unresolved_disposition wall time at
# local[32], and at cluster scale it is one more multi-MB shuffle-free
# transfer per query per executor. Broadcasting ONCE per Spark
# application and reusing the handle makes every later query hit the
# executor-side broadcast block cache. Keyed by applicationId (not
# id(sc)) so a restarted session can never alias a dead broadcast.

_BC_CACHE: dict = {}
# exactly-once is the whole point of the cache, and r07 introduced
# genuinely concurrent driver threads (save_dedup_index overlapped
# writes, guide §2.6): guard the check-then-act so two threads can
# never both miss and broadcast the ~10MB model twice (ADVICE r6)
_BC_LOCK = __import__("threading").Lock()


def cached_broadcast(spark: SparkSession, key: str, build):
    """Broadcast ``build()`` once per (Spark application, key) and
    return the same Broadcast handle on every later call. Only for
    frozen per-process singletons (default models / threshold tables):
    the value must never change for the life of the application."""
    app = spark.sparkContext.applicationId
    with _BC_LOCK:
        for (a, _k) in list(_BC_CACHE):
            if a != app:  # old application: handles are dead, drop them
                _BC_CACHE.pop((a, _k), None)
        bc = _BC_CACHE.get((app, key))
        if bc is None:
            bc = spark.sparkContext.broadcast(build())
            _BC_CACHE[(app, key)] = bc
        return bc
