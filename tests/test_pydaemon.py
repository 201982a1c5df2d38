"""The Python worker daemon (``dask_ms_spark._pydaemon``) and the
session defaults that select it."""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pytest

from dask_ms_spark import _pydaemon
from dask_ms_spark.session import DAEMON_MODULE, session_conf


def _write_zip(path, members: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.fixture
def patched(monkeypatch):
    """zipimporter.invalidate_caches patched for one test only; counts
    calls of ``zipimport._read_directory`` per archive."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads: list[str] = []
    read = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    _pydaemon.patch_zipimport()
    return reads


def test_unchanged_archive_is_not_reread(patched, tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"dms_zip_a.py": "A = 1\n"})
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()          # no stamp yet: reads once
    before = len(patched)
    for _ in range(5):
        imp.invalidate_caches()
    assert len(patched) == before
    assert imp.find_spec("dms_zip_a") is not None


def test_rewritten_archive_is_reread(patched, tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"dms_zip_b.py": "B = 1\n"})
    monkeypatch.syspath_prepend(path)
    import dms_zip_b                  # noqa: F401
    imp = sys.path_importer_cache[path]
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert imp.find_spec("dms_zip_c") is None

    _write_zip(path, {"dms_zip_b.py": "B = 1\n",
                      "dms_zip_c.py": "C = 2\n"})
    st = os.stat(path)               # same-size rewrite in the same tick
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    before = len(patched)
    imp.invalidate_caches()
    assert patched[before:] == [path]
    import dms_zip_c
    assert dms_zip_c.C == 2
    for name in ("dms_zip_b", "dms_zip_c"):
        monkeypatch.delitem(sys.modules, name)


def test_patch_stamps_existing_importers(monkeypatch, tmp_path):
    """Importers read before the patch (the daemon's own imports) are
    stamped as read, so no task re-reads them."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    path = str(tmp_path / "pre.zip")
    _write_zip(path, {"dms_zip_pre.py": "X = 1\n"})
    monkeypatch.setitem(sys.path_importer_cache, path,
                        zipimport.zipimporter(path))
    _pydaemon.patch_zipimport()
    _pydaemon.patch_zipimport()      # idempotent
    calls = []
    monkeypatch.setattr(zipimport, "_read_directory", calls.append)
    sys.path_importer_cache[path].invalidate_caches()
    assert calls == []


def test_session_conf_selects_daemon_and_extra_conf_wins():
    conf = session_conf()
    assert conf["spark.python.daemon.module"] == DAEMON_MODULE
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert conf["spark.executorEnv.PYTHONPATH"] == root
    stock = session_conf({"spark.python.daemon.module": "pyspark.daemon"})
    assert stock["spark.python.daemon.module"] == "pyspark.daemon"
    assert stock["spark.sql.session.timeZone"] == "UTC"
    assert conf["spark.python.unix.domain.socket.enabled"] == "true"
    tcp = session_conf({"spark.python.unix.domain.socket.enabled":
                        "false"})
    assert tcp["spark.python.unix.domain.socket.enabled"] == "false"


def test_workers_run_under_the_daemon(spark):
    """Python tasks of the test session run in workers forked from the
    library daemon: the patch is inherited."""
    assert spark.sparkContext.getConf().get(
        "spark.python.daemon.module") == DAEMON_MODULE

    def probe(batches):
        import pyarrow as pa

        patched = getattr(zipimport.zipimporter.invalidate_caches,
                          "_dms_patched", False)
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"patched": [patched]})

    got = spark.range(0, 2, 1, 2).mapInArrow(probe, "patched boolean")
    assert [r.patched for r in got.collect()] == [True, True]
