"""Host fingerprint, process-tree memory and the Spark session's
lifetime."""

from __future__ import annotations

import hashlib
import os
import subprocess
import time
from pathlib import Path

# longest wait for the JVM, and then for its child processes, to exit
STOP_TIMEOUT_S = 60.0


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def source_digest(root: Path) -> str:
    """sha256 over the package sources: identifies the code under test
    where the checkout carries no git metadata."""
    h = hashlib.sha256()
    for p in sorted((root / "lucene_solr_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit(root: Path) -> str | None:
    if not (root / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def fingerprint(root: Path) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "ram_mb": ram_mb(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_commit": git_commit(root),
        "source_sha256": source_digest(root),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants (the
    JVM and its Python workers)."""
    total_kb = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def start_spark(cores: int, extra_conf: dict[str, str]):
    """The package's session factory with cores = nproc, a quiet
    console and the driver heap set to an eighth of RAM."""
    from lucene_solr_spark.session import get_spark

    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1024, ram_mb() // 8)}m"
    conf = {"spark.ui.showConsoleProgress": "false"}
    conf.update(extra_conf)
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait, up to STOP_TIMEOUT_S,
    for every process this run started (JVM, Python daemon and
    workers) to exit; kill those still alive then."""
    from pyspark import SparkContext

    procs = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF from its driver
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while time.monotonic() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return True
