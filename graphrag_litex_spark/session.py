"""SparkSession factory with scale-oriented defaults.

Local mode (`local[N]`) is the sandbox proxy for a multi-executor cluster;
every setting below is the one we'd ship on a 1000-executor cluster:
AQE for runtime re-planning (post-shuffle coalescing + skew-join splitting,
which defuses hot-entity skew, SURVEY.md §4), Arrow for the pandas-UDF
extraction hot path, and shuffle partitions sized to the parallelism level.

Python workers start from ``graphrag_litex_spark.pydaemon``
(``spark.python.daemon.module``): it takes Spark's zip archives off the
workers' ``sys.path`` before pyspark is imported, because each task's
``importlib.invalidate_caches()`` makes every zip importer re-read its
archive (250-360 ms per task). It falls back to the stock path unless the
same pyspark version is installed as a plain directory. The package's
parent directory is appended to ``spark.executorEnv.PYTHONPATH``, so the
daemon (and every kernel pickled by reference) resolves on the workers
from any working directory.

Spark keeps the classes it generates for a plan in one LRU cache per JVM
(``spark.sql.codegen.cache.maxEntries``, 100 by default). One build
compiles 121-123 distinct classes, so rerunning the same plans in order
missed on almost every class: a steady build recompiled 89-108 of them
(up to 1.1 s of Janino compile on the driver), and appends, resumes and
distributed graph loops repeated plans the cache had already evicted.
``CODEGEN_CACHE_ENTRIES`` is sized from a whole benchmark session (cold
and steady builds, single and batch questions, four query leaves, append,
resume and two forced distributed LPA calls): 327-338 distinct classes.
A bound stays, so a long-lived server's cache cannot grow without limit.

The driver heap defaults to half the host's physical memory, capped at
48g (``SPARK_DRIVER_MEMORY`` overrides it): a heap cap above RAM lets G1
grow the JVM until the kernel kills it.

PySpark's DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``,
on by default) is off: with it on, every ``F.col`` and ``Column`` method
captures its Python call site (4-5 extra py4j round trips and an attempted
``import ipykernel`` per call), and the first such call imports IPython
(about 0.3 s and 30+ MB of driver memory). Off, one answered question makes
about half the py4j round trips. The trade-off: a Column error no longer
names the Python file and line that built the expression; nothing in the
package reads that context.

The ``org.apache.spark.rdd.MapPartitionsRDD`` logger is set to ERROR: it
writes one WARN per released local checkpoint ("RDD n was locally
checkpointed ..."), which made up most of a build's WARN lines and buried
the real ones.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Distinct generated classes, measured: 121-123 per build, 327-338 for a
# whole benchmark session. About 3x the session's working set.
CODEGEN_CACHE_ENTRIES = 1000
_CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
_DEBUGGING_CONF = "spark.python.sql.dataFrameDebugging.enabled"
_CHECKPOINT_WARN_LOGGER = "org.apache.spark.rdd.MapPartitionsRDD"


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Half of physical memory in whole GiB, at least 1g and at most 48g."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, phys_bytes // 2 // 2**30))}g"


def get_spark(
    app_name: str = "graphrag_litex_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    extra_conf = dict(extra_conf or {})
    package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    extra_conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (extra_conf.get("spark.executorEnv.PYTHONPATH"), package_root) if p
    )
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bigger Arrow batches amortize per-batch pandas construction in the
        # extraction UDF (default 10k; 20k measured best at 150-byte rows).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd halves stage-table size vs snappy; shared-disk write
        # bandwidth is the scarcest resource in local mode (and often on
        # clusters too).
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.python.daemon.module", "graphrag_litex_spark.pydaemon")
        .config(_CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
        .config(_DEBUGGING_CONF, "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log4j = spark._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(_CHECKPOINT_WARN_LOGGER, log4j.Level.ERROR)
    return spark


def job_session(app_name: str) -> SparkSession:
    """The session for a ``jobs/`` script: the active one; else, in a
    process started by ``spark-submit`` (its launcher hands pyspark the JVM
    through ``PYSPARK_GATEWAY_PORT``), the builder, which inherits the
    submitted master and conf; else ``get_spark``. Under a plain
    ``python3`` the builder would start its own JVM with Spark's stock
    settings."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return (
            SparkSession.builder.appName(app_name)
            .config(_CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
            .config(_DEBUGGING_CONF, "false")
            .getOrCreate()
        )
    return get_spark(app_name)
