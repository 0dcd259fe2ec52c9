"""The zipimporter replacement in ``parallelcovertree_spark._worker_zipimport``:
``invalidate_caches()`` re-reads an archive only after it changed, and Spark's
Python workers run with the replacement once they import the package."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

import parallelcovertree_spark  # noqa: F401  (installs the replacement)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ re-reads zip directories lazily; no replacement",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on ``sys.path`` plus a counter of its directory reads."""
    path = str(tmp_path / f"mods_{uuid.uuid4().hex}.zip")
    tag = uuid.uuid4().hex
    first, second = f"zfirst_{tag}", f"zsecond_{tag}"
    _write_zip(path, {first: "VALUE = 1\n"})
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        if archive == path:
            reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(path)
    yield path, first, second, reads
    for name in (first, second):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_replacement_installed():
    from parallelcovertree_spark import _worker_zipimport

    assert zipimport.zipimporter.invalidate_caches is _worker_zipimport._invalidate_caches


def test_unchanged_archive_is_not_reread(zip_on_path):
    path, first, _, reads = zip_on_path
    assert importlib.import_module(first).VALUE == 1
    importlib.invalidate_caches()  # may read once: no stamp yet
    before = len(reads)
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == before


def test_rewritten_archive_is_reread(zip_on_path):
    path, first, second, reads = zip_on_path
    importlib.import_module(first)
    importlib.invalidate_caches()
    before = len(reads)
    _write_zip(path, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
    st = os.stat(path)
    # a rewrite inside the same mtime tick still changes the size; bump the
    # mtime anyway so the check does not lean on the size alone
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    importlib.invalidate_caches()
    assert len(reads) == before + 1
    assert importlib.import_module(second).VALUE == 2


def test_unstatable_archive_falls_back_to_stock(zip_on_path):
    path, first, _, reads = zip_on_path
    importlib.import_module(first)
    importer = sys.path_importer_cache[path]
    os.remove(path)
    importer.invalidate_caches()
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache


def test_spark_worker_runs_with_replacement(spark):
    def probe(batches):
        import zipimport

        import pyarrow as pa

        from parallelcovertree_spark import _worker_zipimport as w

        for _ in batches:
            pass
        installed = zipimport.zipimporter.invalidate_caches is w._invalidate_caches
        yield pa.RecordBatch.from_pydict({"installed": [installed]})

    rows = spark.range(8, numPartitions=4).mapInArrow(probe, "installed boolean").collect()
    assert len(rows) == 4
    assert all(r.installed for r in rows)
