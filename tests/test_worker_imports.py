"""How executor Python workers import this package: the stat-guarded
``zipimporter.invalidate_caches`` (``ee_outliers_spark._guard_zip_rereads``)
and the content-addressed py-files zip (``_py_files_zip``)."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import ee_outliers_spark
from ee_outliers_spark import _guard_zip_rereads, _py_files_zip

GUARDED = sys.version_info < (3, 12)


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)


def _count_reads(monkeypatch) -> list:
    """Archives passed to ``zipimport._read_directory`` from now on."""
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(not GUARDED, reason="CPython >= 3.12 reads zips lazily")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """A second ``invalidate_caches`` on an unchanged archive reads nothing;
    a rewrite with a new size, or with the same size and a new mtime, is
    read again, and a fresh import sees the new source."""
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"zguard_mod.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(zpath)
    monkeypatch.delitem(sys.modules, "zguard_mod", raising=False)
    assert importlib.import_module("zguard_mod").VALUE == 1
    imp = sys.path_importer_cache[zpath]
    assert isinstance(imp, zipimport.zipimporter)

    imp.invalidate_caches()  # the first guarded call reads and records
    reads = _count_reads(monkeypatch)
    imp.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(zpath) == 0

    _write_zip(zpath, {"zguard_mod.py": "VALUE = 22\n"})
    importlib.invalidate_caches()
    assert reads.count(zpath) == 1
    del sys.modules["zguard_mod"]
    assert importlib.import_module("zguard_mod").VALUE == 22

    size = os.path.getsize(zpath)
    _write_zip(zpath, {"zguard_mod.py": "VALUE = 33\n"})
    st = os.stat(zpath)
    os.utime(zpath, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert os.path.getsize(zpath) == size
    importlib.invalidate_caches()
    assert reads.count(zpath) == 2
    del sys.modules["zguard_mod"]
    assert importlib.import_module("zguard_mod").VALUE == 33


def test_installer_leaves_zipimporter_untouched_on_312(monkeypatch):
    """On Python >= 3.12 the installer patches nothing; below it, it does."""
    class Fresh(zipimport.zipimporter):
        pass

    monkeypatch.setattr(zipimport, "zipimporter", Fresh)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    _guard_zip_rereads()
    assert "invalidate_caches" not in Fresh.__dict__
    monkeypatch.undo()
    if GUARDED:
        monkeypatch.setattr(zipimport, "zipimporter", Fresh)
        _guard_zip_rereads()
        assert "invalidate_caches" in Fresh.__dict__


@pytest.mark.skipif(not GUARDED, reason="CPython >= 3.12 reads zips lazily")
def test_worker_task_rereads_no_archive(spark):
    """In a worker that has imported the package, the per-task
    ``importlib.invalidate_caches()`` reads no zip archive (unguarded, each
    call re-reads pyspark.zip, the spark-core jar and py4j: 16+ reads).
    The UDFs are nested so they pickle by value: workers cannot import this
    test module."""
    def imports_package(batches):
        import importlib

        import ee_outliers_spark  # noqa: F401

        importlib.invalidate_caches()
        yield from batches

    def reads_per_invalidate(batches):
        import importlib
        import sys
        import zipimport

        if "ee_outliers_spark" not in sys.modules:
            # a worker new to the package: its guard starts recording now
            import ee_outliers_spark  # noqa: F401
            importlib.invalidate_caches()
        reads = [0]
        real = zipimport._read_directory

        def counting(archive):
            reads[0] += 1
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for b in batches:
            yield b.assign(reads=reads[0])

    ee_outliers_spark.ensure_py_files(spark)
    cores = spark.sparkContext.defaultParallelism
    spark.range(4 * cores, numPartitions=4 * cores).mapInPandas(
        imports_package, "id long").collect()
    got = spark.range(cores, numPartitions=cores).mapInPandas(
        reads_per_invalidate, "id long, reads long").collect()
    assert len(got) == cores
    assert [r["reads"] for r in got] == [0] * cores


def _package(root, body: bytes) -> str:
    pkg = root / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_bytes(b"")
    (pkg / "sub" / "m.py").write_bytes(body)
    (pkg / "notes.txt").write_text("not shipped")
    return str(pkg)


def test_py_files_zip_is_content_addressed(tmp_path):
    """Two package trees differing in one byte map to two zip paths; a zip
    already at the computed path is reused unchanged, and no temp file is
    left behind."""
    out = tmp_path / "out"
    out.mkdir()
    (out / "ee_outliers_spark_pyfiles.zip").write_bytes(b"stale")
    a = _package(tmp_path / "a", b"X = 1\n")
    b = _package(tmp_path / "b", b"X = 2\n")
    za, zb = _py_files_zip(a, str(out)), _py_files_zip(b, str(out))
    assert za != zb
    for z, body in ((za, b"X = 1\n"), (zb, b"X = 2\n")):
        with zipfile.ZipFile(z) as zf:
            assert sorted(zf.namelist()) == ["pkg/__init__.py",
                                             "pkg/sub/m.py"]
            assert zf.read("pkg/sub/m.py") == body

    with open(za, "wb") as fh:
        fh.write(b"kept")
    assert _py_files_zip(a, str(out)) == za
    with open(za, "rb") as fh:
        assert fh.read() == b"kept"
    assert sorted(os.listdir(out)) == sorted(
        ["ee_outliers_spark_pyfiles.zip", os.path.basename(za),
         os.path.basename(zb)])


def test_get_spark_registers_py_files(spark):
    """A ``get_spark`` session ships the package zip to its workers, so a
    driver started from any cwd runs the engine's Python kernels."""
    sc = spark.sparkContext
    assert sc._ee_outliers_pyfiles
    assert any(os.path.basename(p).startswith("ee_outliers_spark_pyfiles-")
               for p in sc._python_includes)
