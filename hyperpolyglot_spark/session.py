"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same configs are the ones we
would set on a real cluster (AQE, Arrow, shuffle partitions sized to
cores). Parallelism is expressed through partitioning, never threads
(reference src/lib.rs:228-254 uses a thread pool; our analog is Spark
task parallelism — SURVEY.md §4 X4).

A local session (a ``local``/``local[N]`` master picked here, not under
spark-submit) gets two engine pieces:

  - its Python workers run under ``pydaemon.py``;
  - its ``file:`` filesystem is ``jvm/NioLocalFileSystem.java``. pyspark
    ships no libhadoop, so Hadoop's local filesystem forks a ``chmod``
    for every file and directory it creates (about 58 forks per bucket
    group of the resumable write, ~6 ms each); this one sets the same
    mode bits through java.nio. The class is compiled with the JDK's
    ``javac`` once per source hash into a per-user cache dir and put on
    the driver's class path. Without a ``javac`` the session keeps
    Hadoop's filesystem and logs one WARN.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

NIO_FS_CLASS = "hyperpolyglot_spark.jvm.NioLocalFileSystem"
NIO_FS_SOURCE = os.path.join(os.path.dirname(__file__), "jvm", "NioLocalFileSystem.java")


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


def _javac() -> str | None:
    """The JDK's ``javac``: $JAVA_HOME's, else the first on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "javac"), os.X_OK):
        return os.path.join(home, "bin", "javac")
    return shutil.which("javac")


def _cache_root() -> str:
    """Per-user cache of compiled engine classes. Not under the temp dir:
    a caller may point TMPDIR at a work dir it deletes after each run."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "hyperpolyglot_spark", "jvm")


def nio_fs_classes(source: str = NIO_FS_SOURCE, cache_root: str | None = None) -> str:
    """The class dir of ``source`` compiled against Spark's Hadoop client
    jar: ``<cache_root>/<source hash>``, built on first use. The build
    runs in a temp dir under ``cache_root`` that is renamed into place,
    so a concurrent session sees no dir or a whole one. Raises OSError
    or CalledProcessError when it cannot build (no ``javac``, say)."""
    with open(source, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    root = cache_root or _cache_root()
    out = os.path.join(root, digest)
    if os.path.isdir(out):
        return out
    javac = _javac()
    if javac is None:
        raise FileNotFoundError("no javac on JAVA_HOME or PATH")
    jars = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".build-", dir=root)
    try:
        classes = os.path.join(tmp, "classes")
        subprocess.run(
            [javac, "--release", "17", "-cp", os.pathsep.join(jars), "-d", classes, source],
            check=True, capture_output=True, text=True,
        )
        try:
            os.rename(classes, out)
        except OSError:
            if not os.path.isdir(out):  # not a concurrent build's win
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _jvm_loads(name: str) -> bool:
    """Whether the running JVM's class path holds class ``name``."""
    try:
        SparkContext._jvm.java.lang.Class.forName(name)
        return True
    except Py4JJavaError:  # ClassNotFoundException
        return False


def _local_fs_conf(extra_conf: dict[str, str]) -> dict[str, str]:
    """The confs that make a local session's ``file:`` filesystem
    NioLocalFileSystem: its class dir appended to the caller's
    ``spark.driver.extraClassPath`` and ``spark.hadoop.fs.file.impl``.
    Nothing if the caller chose ``fs.file.impl``; nothing and one WARN
    if the class cannot be built, or a JVM already runs without it (its
    class path is fixed at launch)."""
    if "spark.hadoop.fs.file.impl" in extra_conf:
        return {}
    try:
        classes = nio_fs_classes()
    except (OSError, subprocess.CalledProcessError) as e:
        detail = getattr(e, "stderr", None) or e
        _log.warning("keeping Hadoop's local filesystem, which forks chmod per file: %s", detail)
        return {}
    if SparkContext._gateway is not None and not _jvm_loads(NIO_FS_CLASS):
        _log.warning("keeping Hadoop's local filesystem: the running JVM has no %s", NIO_FS_CLASS)
        return {}
    cp = extra_conf.get("spark.driver.extraClassPath")
    return {
        "spark.driver.extraClassPath": os.pathsep.join(filter(None, [cp, classes])),
        "spark.hadoop.fs.file.impl": NIO_FS_CLASS,
    }


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

    extra_conf = dict(extra_conf or {})
    builder = SparkSession.builder
    # Under spark-submit the gateway JVM already exists and carries the
    # real master (yarn/k8s/standalone) — don't override it with local[N].
    # PYSPARK_GATEWAY_PORT is set only when spark-submit launched us.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
        builder = builder.master(master)
        # local mode only: its workers import this package as the driver
        # does. Not under spark-submit, whose --py-files zips reach a
        # worker per task, after its daemon has started (pydaemon.py),
        # and whose driver class path is set on its command line.
        if master == "local" or master.startswith("local["):
            builder = builder.config(
                "spark.python.daemon.module", "hyperpolyglot_spark.pydaemon"
            )
            extra_conf.update(_local_fs_conf(extra_conf))
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
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # Same lesson on the SCAN side: the vectorized parquet reader
        # reserves batch-size rows per column vector, so the default
        # 4096 with ~50KB html rows is ~200MB per task — 32 tasks OOM
        # a spark-submit driver left at its default 1g heap. 512 caps
        # reader memory at ~25MB/task; plain-row scans lose nothing
        # measurable.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
        .config(
            "spark.serializer", "org.apache.spark.serializer.KryoSerializer"
        )
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows_df(spark: SparkSession, rows, schema: str):
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
    n = max(1, min(4, (len(rows) + 127) // 128))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n), schema
    )


# ----------------------------------------------------------------------
# per-application broadcast cache for frozen singletons
# ----------------------------------------------------------------------
# The default NB/LM models are immutable per-process singletons, but a
# fresh broadcast per label UDF built makes the driver re-pickle ~10MB
# and all N python workers re-unpickle it on first touch — measured
# 4-9s of one oracle query's wall time at local[32], and at cluster
# scale it is one more multi-MB transfer per plan per executor.
# Broadcasting ONCE per Spark application and reusing the handle makes
# every later plan (each bucket group of the resumable job) hit the
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
