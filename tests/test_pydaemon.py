"""The Python worker daemon's zipimport wrapper (wingfoil_spark/pydaemon.py):
an unchanged archive is not re-read on ``importlib.invalidate_caches()``,
a rewritten one is, and the workers of a ``get_spark`` session run it."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from wingfoil_spark import pydaemon


@pytest.fixture
def reads(monkeypatch):
    """Install the wrapper for this test only (fresh read record) and count
    calls of the stock method per archive."""
    calls = []
    stock = pydaemon._reread

    def counting(self):
        calls.append(self.archive)
        stock(self)

    monkeypatch.setattr(pydaemon, "_reread", counting)
    monkeypatch.setattr(pydaemon, "_read_as", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches)
    return calls


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding a module and a package; importing both
    gives the archive two zip importers (its root and the package dir)."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"pdz_top.py": "X = 1\n", "pdz_pkg/__init__.py": "",
                      "pdz_pkg/a.py": "A = 2\n"})
    monkeypatch.syspath_prepend(path)
    for m in ("pdz_top", "pdz_pkg", "pdz_pkg.a", "pdz_new", "pdz_pkg.b"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    importlib.import_module("pdz_top")
    importlib.import_module("pdz_pkg.a")
    yield path
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(reads, archive):
    importers = [f for k, f in sys.path_importer_cache.items() if k.startswith(archive)]
    assert len(importers) == 2
    importlib.invalidate_caches()  # first sight of the archive: one read
    assert reads.count(archive) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_rewritten_archive_is_reread(reads, archive):
    importlib.invalidate_caches()
    _write_zip(archive, {"pdz_top.py": "X = 1\n", "pdz_pkg/__init__.py": "",
                         "pdz_pkg/a.py": "A = 2\n", "pdz_new.py": "N = 3\n",
                         "pdz_pkg/b.py": "B = 4\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2  # once, shared by both importers
    assert importlib.import_module("pdz_new").N == 3
    assert importlib.import_module("pdz_pkg.b").B == 4
    importlib.invalidate_caches()
    assert reads.count(archive) == 2


def test_session_workers_run_the_daemon_wrapper(spark):
    """In a worker, ``importlib.invalidate_caches()`` keeps every unchanged
    archive's cached directory (the stock method reads a new one)."""

    def probe(batches):
        import importlib
        import zipimport

        for _ in batches:
            pass
        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache
        yield pd.DataFrame({"archive": list(before),
                            "kept": [after.get(a) is d for a, d in before.items()]})

    got = spark.range(1).mapInPandas(probe, "archive string, kept boolean").toPandas()
    assert got["archive"].str.endswith("pyspark.zip").any()
    assert got["kept"].all(), got
