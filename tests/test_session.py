"""Session defaults, the Unix-domain-socket transport and the Python
worker's zip-directory guard.

The guard (lucene_solr_spark._zipguard) keeps importlib.invalidate_caches()
from re-reading unchanged zip archives; pyspark's worker calls it at the
start of every task."""

from __future__ import annotations

import glob
import importlib
import os
import shutil
import stat
import subprocess
import sys
import tempfile
import zipfile
import zipimport

import pytest

from lucene_solr_spark import _zipguard, session
from lucene_solr_spark.session import driver_heap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LAZY_ZIP_CACHES = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimporter.invalidate_caches is lazy from 3.12 (gh-103200)")


def test_driver_heap_is_an_eighth_of_ram_at_least_1g():
    assert driver_heap(16 * 1024) == "2048m"
    assert driver_heap(15_731) == "1966m"
    assert driver_heap(125 * 1024) == "16000m"
    assert driver_heap(4096) == "1024m"
    assert driver_heap(0) == "1024m"


def test_session_runs_python_over_a_private_socket_dir(spark):
    """UDS is on, its directory is 0700 and the test user's, the longest
    socket path fits sun_path, and Python jobs and transfers work."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    st = os.stat(sock_dir)
    assert stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == os.getuid()
    longest = len(os.fsencode(sock_dir)) + session.SOCKET_NAME_BYTES
    assert longest <= session.SUN_PATH_MAX

    def tag(batches):
        for b in batches:
            yield b.assign(id=b["id"] * 10)
    got = spark.range(0, 3, 1, 3).mapInPandas(tag, "id long").toArrow()
    assert sorted(got.column("id").to_pylist()) == [0, 10, 20]
    rows = [(1, "a"), (2, "b")]
    assert [tuple(r) for r in
            spark.createDataFrame(rows, "n long, s string").collect()] == rows


def test_socket_dir_falls_back_to_tmp_then_to_tcp(tmp_path, monkeypatch):
    """An over-long TMPDIR sends the directory to /tmp; when no base
    fits, no socket directory is made and no UDS conf is set."""
    long_base = tmp_path / ("d" * (session.SUN_PATH_MAX - 40))
    long_base.mkdir()
    monkeypatch.setenv("TMPDIR", str(long_base))
    monkeypatch.setattr(tempfile, "tempdir", None)
    assert tempfile.gettempdir() == str(long_base)
    made = session.make_socket_dir()
    try:
        assert os.path.dirname(made) == "/tmp"
        assert os.path.basename(made).startswith(session.SOCKET_DIR_PREFIX)
        assert stat.S_IMODE(os.stat(made).st_mode) == 0o700
        assert len(os.fsencode(made)) + session.SOCKET_NAME_BYTES <= \
            session.SUN_PATH_MAX
    finally:
        os.rmdir(made)

    monkeypatch.setattr(session, "FALLBACK_SOCKET_BASE", str(long_base))
    monkeypatch.setattr(session, "_socket_dir", None)
    assert session.make_socket_dir() is None
    assert session._uds_conf() == {}
    assert session._socket_dir is None
    assert os.listdir(long_base) == []


def test_normal_exit_removes_the_socket_dir(tmp_path):
    """A process that starts a session and runs a Python job leaves no
    socket directory behind when it exits normally."""
    base = tempfile.mkdtemp(prefix="sockexit-", dir="/tmp")
    script = (
        "import os\n"
        "from lucene_solr_spark.session import get_spark\n"
        "spark = get_spark(app_name='lss-exit', cores=2, extra_conf="
        "{'spark.driver.memory': '1g', 'spark.ui.showConsoleProgress': 'false'})\n"
        "d = spark.sparkContext.getConf().get("
        "'spark.python.unix.domain.socket.dir')\n"
        "assert os.path.isdir(d)\n"
        "spark.range(0, 2, 1, 2).mapInPandas(lambda it: it, 'id long').collect()\n"
        "print(d)\n")
    env = {**os.environ, "TMPDIR": base, "PYTHONPATH": REPO}
    try:
        out = subprocess.run([sys.executable, "-c", script], env=env,
                             cwd=str(tmp_path), capture_output=True,
                             text=True, timeout=300)
        assert out.returncode == 0, out.stderr[-2000:]
        sock_dir = out.stdout.strip().splitlines()[-1]
        assert os.path.dirname(sock_dir) == base
        assert not os.path.exists(sock_dir)
        assert glob.glob(os.path.join(base, session.SOCKET_DIR_PREFIX + "*")) == []
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@LAZY_ZIP_CACHES
def test_zip_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    """An unchanged archive is not re-read; a rewritten one (new size and
    mtime) is, and its new module imports; installing twice leaves one
    wrapper. The class is restored afterwards, so the test process (the
    suite's Spark driver) stays unpatched."""
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    archive = tmp_path / "guarded.zip"
    _write_zip(archive, ["zg_mod_a"])
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zg_mod_a").NAME == "zg_mod_a"
        _zipguard.install()
        _zipguard.install()
        wrapper = zipimport.zipimporter.invalidate_caches
        assert wrapper.__wrapped__ is original
        assert not hasattr(original, "__wrapped__")

        importlib.invalidate_caches()  # reads each archive once
        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda p: reads.append(p) or read_directory(p))
        importlib.invalidate_caches()
        assert reads == []

        st = os.stat(archive)
        _write_zip(archive, ["zg_mod_a", "zg_mod_b"])
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert reads == [str(archive)]
        assert importlib.import_module("zg_mod_b").NAME == "zg_mod_b"
    finally:
        for name in ("zg_mod_a", "zg_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


@LAZY_ZIP_CACHES
def test_engine_task_installs_zip_guard(spark):
    """A Spark Python task that imports the package installs the guard,
    after which a second importlib.invalidate_caches() in that worker
    reads no archive directory; the driver is never patched."""
    n = 3

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        import lucene_solr_spark  # noqa: F401 (as an engine UDF does)

        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        guarded = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        yield pd.DataFrame({"guarded": [guarded], "reads": [len(reads)]})

    rows = (spark.range(0, n, 1, n)
            .mapInPandas(probe, "guarded boolean, reads int").collect())
    assert len(rows) == n
    assert all(r["guarded"] for r in rows)
    assert all(r["reads"] == 0 for r in rows)
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
