"""The stat-guarded zipimporter.invalidate_caches that importing webindex
installs (webindex._guard_zip_invalidation). PySpark's worker calls
importlib.invalidate_caches() at the start of every task; on CPython
3.10-3.12 each call re-read the central directory of every zip on the path
(Spark's pyspark.zip among them). With the guard an unchanged archive is
not re-read, a changed or vanished one is, exactly as before."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import webindex

pytestmark = pytest.mark.skipif(
    not (3, 10) <= sys.version_info[:2] <= (3, 12),
    reason="the guard is a no-op outside CPython 3.10-3.12 "
    "(3.13 made zipimporter.invalidate_caches lazy)",
)


def _write_zip(path, modules):
    """One package per name (<name>/__init__.py and <name>/sub.py)."""
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name in modules:
            z.writestr(f"{name}/__init__.py", f"NAME = {name!r}\n")
            z.writestr(f"{name}/sub.py", "")
    tmp.replace(path)  # a new inode, as any rewrite-then-rename gives


@pytest.fixture
def reads(monkeypatch):
    """Archives passed to zipimport._read_directory, in call order."""
    seen = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_guard_rereads_only_changed_archives(tmp_path, reads):
    archive = tmp_path / "guard.zip"
    a, b = f"zg_a_{id(tmp_path)}", f"zg_b_{id(tmp_path)}"
    _write_zip(archive, [a])
    sys.path.insert(0, str(archive))
    try:
        assert importlib.import_module(a).NAME == a
        importlib.import_module(f"{a}.sub")  # a second importer, archive/<a>
        importer = sys.path_importer_cache[str(archive)]
        assert isinstance(importer, zipimport.zipimporter)
        assert isinstance(
            sys.path_importer_cache[str(archive / a)], zipimport.zipimporter
        )
        reads.clear()  # the importers' own construction read

        webindex._guard_zip_invalidation()  # idempotent: installs nothing twice
        guarded = zipimport.zipimporter.invalidate_caches
        assert guarded.__module__ == "webindex"
        webindex._guard_zip_invalidation()
        assert zipimport.zipimporter.invalidate_caches is guarded

        # the first guarded call re-reads (the directory was read outside
        # the guard) once for both importers of the archive; unchanged after
        # that, two calls read nothing
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1

        # rewritten with a new module: re-read once, and the module imports
        _write_zip(archive, [a, b])
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 2
        assert sys.path_importer_cache[str(archive / a)]._files is importer._files
        assert importlib.import_module(b).NAME == b
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 2

        # vanished: stat fails, so the original runs for each importer — it
        # tries to read, fails, empties the importer, drops the cache entry
        archive.unlink()
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 4
        assert importer._files == {}
        assert sys.path_importer_cache[str(archive / a)]._files == {}
        assert str(archive) not in zipimport._zip_directory_cache
    finally:
        sys.path.remove(str(archive))
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)
        sys.path_importer_cache.pop(str(archive / a), None)
        for name in (a, f"{a}.sub", b):
            sys.modules.pop(name, None)


def test_worker_task_does_not_reread_pyspark_zip(spark):
    """Inside a real Python worker that has unpickled an engine UDF (the
    closure below references an engine module, so unpickling it imports
    webindex, as every engine UDF does), two importlib.invalidate_caches()
    calls — what two tasks' set-up makes — read no archive. Unguarded,
    each call re-reads pyspark.zip and every other zip on the path."""
    import pandas as pd

    from webindex import textproc

    def probe(batches):
        import importlib
        import sys
        import zipimport

        assert textproc.tokenize  # an engine module, imported at unpickle
        importlib.invalidate_caches()  # first guarded call per importer
        seen = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: seen.append(a) or read(a)
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = [
            p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)
        ]
        for _ in batches:
            pass
        yield pd.DataFrame({
            "reads": [len(seen)],
            "pyspark_zip": [any(p.endswith("pyspark.zip") for p in zips)],
        })

    row = spark.range(1).mapInPandas(
        probe, "reads long, pyspark_zip boolean"
    ).collect()[0]
    assert row["pyspark_zip"]  # the archive the guard exists for is there
    assert row["reads"] == 0
