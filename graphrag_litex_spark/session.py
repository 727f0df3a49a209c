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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd halves stage-table size vs snappy; shared-disk write
        # bandwidth is the scarcest resource in local mode (and often on
        # clusters too).
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.python.daemon.module", "graphrag_litex_spark.pydaemon")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
