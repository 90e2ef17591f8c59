"""worker_daemon: a reused Python worker re-reads a zip archive only when
the archive changed, and every session from get_spark forks its workers
from that daemon."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from bisque_spark import worker_daemon

_MOD = "_worker_daemon_probe"


@pytest.fixture
def reads(monkeypatch):
    """Install the daemon's invalidation rule; count directory reads."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    seen: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        seen.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.delitem(sys.modules, _MOD, raising=False)
    return seen


def _write_archive(path, value: int) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{_MOD}.py", f"VALUE = {value}\n")


def _import_fresh():
    sys.modules.pop(_MOD, None)
    return importlib.import_module(_MOD)


def test_unchanged_archive_is_not_reread(reads, tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_archive(archive, 1)
    monkeypatch.syspath_prepend(archive)
    assert _import_fresh().VALUE == 1
    importlib.invalidate_caches()  # first call stamps the archive
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads
    assert _import_fresh().VALUE == 1


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_changed_archive_is_reread(reads, tmp_path, monkeypatch, change):
    archive = str(tmp_path / "probe.zip")
    _write_archive(archive, 1)
    monkeypatch.syspath_prepend(archive)
    assert _import_fresh().VALUE == 1
    importlib.invalidate_caches()
    before = os.stat(archive)
    if change == "size":
        _write_archive(archive, 1234)
        assert os.stat(archive).st_size != before.st_size
    else:
        _write_archive(archive, 2)
        assert os.stat(archive).st_size == before.st_size
        os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert _import_fresh().VALUE == (1234 if change == "size" else 2)


def test_every_importer_of_a_changed_archive_sees_it(reads, tmp_path):
    archive = str(tmp_path / "probe.zip")
    _write_archive(archive, 1)
    importers = [zipimport.zipimporter(archive) for _ in range(2)]
    for imp in importers:
        imp.invalidate_caches()
    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("added.py", "")
    reads.clear()
    for imp in importers:
        imp.invalidate_caches()
    assert reads.count(archive) == 1
    assert all(imp.find_spec("added") is not None for imp in importers)


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ defers the re-read; the daemon leaves it alone",
)
def test_session_workers_fork_from_worker_daemon(spark):
    def probe(batches):
        import zipimport

        origin = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        for pdf in batches:
            yield pdf.assign(origin=origin)

    rows = (
        spark.range(0, 1600, numPartitions=16)
        .mapInPandas(probe, schema="id long, origin string")
        .collect()
    )
    assert sorted(r.id for r in rows) == list(range(1600))
    origins = {r.origin for r in rows}
    assert len(origins) == 1
    assert origins.pop().endswith(os.path.join("bisque_spark", "worker_daemon.py"))
