"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]`` but every knob is chosen as it
would be for a 1000-executor cluster: AQE on (runtime re-plan +
skew-join handling), adaptive shuffle partition coalescing, Arrow
enabled for the vectorized UDF hot path. Python workers are reused:
the zip-directory guard (``_zipguard``, CPython gh-103200) lives in a
worker and spares its later tasks 140-250 ms each on CPython < 3.12.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_heap(ram_mb: int) -> str:
    """The default driver heap: RAM/8, at least 1g."""
    return f"{max(1024, ram_mb // 8)}m"


def _ram_mb() -> int:
    """MemTotal (the first line of /proc/meminfo) in MB, 0 if unknown."""
    try:
        with open("/proc/meminfo") as f:
            return int(f.readline().split()[1]) // 1024
    except (OSError, IndexError, ValueError):
        return 0


def get_spark(
    app_name: str = "lucene-solr-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores; on a
    real cluster the master/conf come from spark-submit and the
    ``local[N]`` master here is ignored.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # Rule of thumb: 2-4x total cores. On a real cluster this is
        # sized so a shuffle partition is ~128-200MB; AQE coalesces
        # small ones at runtime either way.
        shuffle_partitions = max(2 * cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Plans that shuffle a few KB of rows into CPU-heavy Python
        # stages (the flat executor's positional groupBy(docid) feeding
        # its match UDF, the index encoder's per-segment grouped maps)
        # pay in CPU, not bytes. With the default 1m floor, AQE
        # coalesces such a tiny exchange to ONE partition and
        # serializes the Python work through a single worker (measured
        # on the segment kernels when they still ran behind an
        # exchange: a 3-term AND over 8 segments ran 8x the single-task
        # time). A 1-byte floor keeps parallelism-first coalescing at
        # per-row granularity for small shuffles; large shuffles still
        # coalesce to total/parallelism as before. No segment-tier
        # search shuffles any more (a search or a search_many batch is
        # one wand._segment_tasks stage, merged on the driver); only the
        # flat _eval_positional and the index encoders still need this.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The zip-directory guard is installed once per Python worker
        # and spares only that worker's later tasks: keep workers reused.
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or driver_heap(_ram_mb()))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
