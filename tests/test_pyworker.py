"""The per-task zip re-read that voz_spark.pyworker removes.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task; on CPython 3.10–3.12 each zipimporter then re-reads its
archive's directory. With the wrapper installed, an unchanged archive
keeps its cached directory and a rewritten one is still re-read.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from voz_spark import pyworker  # importing voz_spark installs the wrapper


def _write_zip(path: str, modules: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)  # a rewrite is a new file, as a re-shipped zip is


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path, and a counter of the directory reads
    of that archive."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"pw_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(path)
    reads = []
    real = zipimport._read_directory

    def counted(archive):
        if archive == path:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield path, reads
    for name in ("pw_mod_a", "pw_mod_b"):
        sys.modules.pop(name, None)


def test_package_import_installs_the_wrapper():
    assert zipimport.zipimporter.invalidate_caches is pyworker.invalidate_caches
    pyworker.install()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is pyworker.invalidate_caches


def test_unchanged_zip_is_not_reread(zip_on_path):
    path, reads = zip_on_path
    assert importlib.import_module("pw_mod_a").VALUE == "a"
    importlib.invalidate_caches()  # stamps the archive (one read at most)
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("pw_mod_a").VALUE == "a"


def test_stdlib_rereads_on_every_call(zip_on_path, monkeypatch):
    """The counter sees the cost the wrapper removes (CPython < 3.13
    re-reads eagerly; 3.13 drops the directory and reads it lazily)."""
    if sys.version_info >= (3, 13):
        pytest.skip("3.13's invalidate_caches does not read the directory")
    path, reads = zip_on_path
    importlib.import_module("pw_mod_a")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker._stdlib_invalidate)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) >= 2


def test_rewritten_zip_is_reread(zip_on_path):
    path, reads = zip_on_path
    importlib.import_module("pw_mod_a")
    importlib.invalidate_caches()
    _write_zip(path, {"pw_mod_a": "VALUE = 'a'\n", "pw_mod_b": "VALUE = 'b'\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert importlib.import_module("pw_mod_b").VALUE == "b"
    assert reads, "a rewritten archive must be re-read"


def test_missing_zip_falls_through_to_stdlib(zip_on_path):
    path, _ = zip_on_path
    importlib.import_module("pw_mod_a")
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()  # stat fails: the stdlib drops the directory
    assert path not in pyworker._stamps
    assert path not in zipimport._zip_directory_cache


def test_warm_worker_runs_with_the_wrapper(spark):
    """A task on a reused worker starts with the wrapper in place (an
    earlier task imported voz_spark, as every engine UDF does), and its
    `importlib.invalidate_caches()` reads no archive directory."""

    def probe(rows):
        import importlib as il
        import os as _os
        import sys as _sys
        import zipimport as zi

        wrapped = zi.zipimporter.invalidate_caches.__module__
        reads = []
        real = zi._read_directory

        def counted(archive):
            reads.append(archive)
            return real(archive)

        zi._read_directory = counted
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        import voz_spark  # noqa: F401

        n_zip = sum(isinstance(f, zi.zipimporter) for f in _sys.path_importer_cache.values())
        yield (_os.getpid(), wrapped, len(reads), n_zip, sum(1 for _ in rows))

    rdd = spark.sparkContext.parallelize(range(64), 8)
    first = rdd.mapPartitions(probe).collect()
    second = rdd.mapPartitions(probe).collect()
    warm = [r for r in second if r[0] in {f[0] for f in first}]
    assert warm, (first, second)
    for pid, wrapped, reads, n_zip, _ in warm:
        assert wrapped == "voz_spark.pyworker", warm
        # the worker imports through zipimporters (pyspark.zip), and
        # none of them re-reads its archive
        assert n_zip > 0 and reads == 0, warm
