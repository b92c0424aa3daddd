"""Engine sessions' Python workers (``session.PYTHON_DAEMON``): they fork
from the engine's daemon, whose zip-import guard re-reads an archive's
directory only when the archive changed."""

import importlib.util
import sys
import zipfile
import zipimport

import pytest

from gelly_partitioning_spark import _daemon
from gelly_partitioning_spark.session import PYTHON_DAEMON

# CPython 3.12 re-reads an invalidated zip directory lazily (gh-103200)
GUARDED = sys.version_info < (3, 12)


@pytest.fixture
def directory_reads(monkeypatch):
    """The guard installed for one test; the archives whose central
    directory zipimport reads meanwhile."""
    if not GUARDED:
        pytest.skip("the guard is not installed on CPython >= 3.12")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads, read = [], zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda path: reads.append(path) or read(path))
    assert _daemon.install_zip_guard()
    return reads


def _write(archive, **modules):
    with zipfile.ZipFile(archive, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def _load(importer, name):
    spec = importer.find_spec(name)
    if spec is None:
        return None
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_zip_guard_rereads_only_a_changed_archive(tmp_path, directory_reads):
    archive = str(tmp_path / "mods.zip")
    _write(archive, gps_guard_a="X = 1\n")
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()  # the archive's first read under the guard
    reads = len(directory_reads)
    for _ in range(3):
        importer.invalidate_caches()
    assert len(directory_reads) == reads  # unchanged: never re-read
    assert _load(importer, "gps_guard_a").X == 1

    _write(archive, gps_guard_a="X = 1\n", gps_guard_b="Y = 2\n")
    assert _load(importer, "gps_guard_b") is None  # the directory it read before
    importer.invalidate_caches()
    assert len(directory_reads) == reads + 1
    assert _load(importer, "gps_guard_b").Y == 2
    # a second importer over the archive shares that read
    other = zipimport.zipimporter(archive)
    other.invalidate_caches()
    assert len(directory_reads) == reads + 1
    assert _load(other, "gps_guard_b").Y == 2


def test_engine_session_workers_run_under_the_guard(spark):
    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        spec = getattr(sys.modules["__main__"], "__spec__", None)
        yield pa.RecordBatch.from_pydict({
            "daemon": [getattr(spec, "name", None)],
            "guarded": [getattr(zipimport.zipimporter.invalidate_caches, "guarded", False)],
        })

    row = spark.range(1).coalesce(1).mapInArrow(probe, "daemon string, guarded boolean").first()
    assert row["daemon"] == PYTHON_DAEMON[1]
    assert row["guarded"] == GUARDED
