"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]`` but every knob is chosen as it
would be for a 1000-executor cluster: AQE on (runtime re-plan +
skew-join handling), adaptive shuffle partition coalescing, Arrow
enabled for the vectorized UDF hot path. Python workers are reused:
the zip-directory guard (``_zipguard``, CPython gh-103200) lives in a
worker and spares its later tasks 140-250 ms each on CPython < 3.12.

Python<->JVM traffic runs over Unix domain sockets
(``spark.python.unix.domain.socket.enabled``): worker and daemon
connections, ``toArrow()`` / ``collect()`` / ``createDataFrame``
transfers and the accumulator channel. Over Spark's default loopback
TCP, a ``toArrow()`` result stream (every search's kernel job ends in
one) stalled ~40 ms on the JVM's end of its socket: a no-op 3-task
``mapInPandas(...).toArrow()`` took 128-158 ms against 93-99 ms over
UDS, while the same job ending in ``collect()`` took ~100 ms over
either (``scripts/python_task_floor.py [--tcp]``, 4-core shared host,
``local[4]``; the Python end's ``TCP_NODELAY`` did not help). In UDS
mode Spark drops its per-connection auth secret, so the
socket directory's permissions are the only access control: each
process makes one private directory with ``tempfile.mkdtemp`` (mode
0700, owned by the current user; never a shared directory such as the
JVM's ``java.io.tmpdir``), reuses it for every session and removes it
at interpreter exit. Spark names a socket ``<dir>/.<uuid4>.sock``, and
Linux limits the path to 107 bytes, so the directory goes under
``tempfile.gettempdir()`` when the paths fit there, else under
``/tmp``; when neither fits (or neither is writable) the session keeps
Spark's TCP default.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

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


SUN_PATH_MAX = 107  # bytes of a Linux sockaddr_un path, its NUL excluded
SOCKET_NAME_BYTES = len("/.") + 36 + len(".sock")  # "/.<uuid4>.sock"
SOCKET_DIR_PREFIX = "lss-"
_MKDTEMP_NAME_BYTES = len(SOCKET_DIR_PREFIX) + 8  # mkdtemp adds 8 chars
FALLBACK_SOCKET_BASE = "/tmp"

_socket_dir: str | None = None  # this process's socket directory


def make_socket_dir() -> str | None:
    """A new private (0700) socket directory under the first of
    tempfile.gettempdir() and FALLBACK_SOCKET_BASE in which the longest
    socket path fits SUN_PATH_MAX; None if neither fits or is
    writable."""
    for base in (tempfile.gettempdir(), FALLBACK_SOCKET_BASE):
        name = os.path.join(base, "x" * _MKDTEMP_NAME_BYTES)
        if len(os.fsencode(name)) + SOCKET_NAME_BYTES > SUN_PATH_MAX:
            continue
        try:
            return tempfile.mkdtemp(prefix=SOCKET_DIR_PREFIX, dir=base)
        except OSError:
            continue
    return None


def _uds_conf() -> dict[str, str]:
    """The UDS transport confs, over this process's one socket
    directory (made on first use; {} keeps Spark's TCP default)."""
    global _socket_dir
    if _socket_dir is None:
        path = make_socket_dir()
        if path is None:
            return {}
        # registered before the session starts, so it runs after any
        # exit handler Spark's startup registers
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        _socket_dir = path
    return {"spark.python.unix.domain.socket.enabled": "true",
            "spark.python.unix.domain.socket.dir": _socket_dir}


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
    for k, v in {**_uds_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
