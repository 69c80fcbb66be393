"""ee_outliers_spark — a from-scratch PySpark-native inverted-index build +
BM25 query engine with the query and data-processing capabilities of
NVISOsecurity/ee-outliers (reference at /root/reference, read-only).

The reference delegates all distributed query execution to an Elasticsearch
cluster (app/helpers/es.py); this package re-owns that layer as Spark
DataFrame programs:

- ``tokenizer``    — deterministic analyzer shared by index build, query side
                     and the pure-Python oracle (ref: app/helpers/utils.py:522-534).
- ``corpus``       — Common-Crawl-style web_pages table synthesis + the
                     byte-identical html→text extraction invariant.
- ``index``        — SPIMI per-partition posting-list build, varbyte+delta-gap
                     compression, block-max metadata, LSM merge, BM25 top-k
                     (one per-segment block-max scoring kernel).
- ``queryparser``  — Lucene-subset query_string grammar (ref: es.py:238-250).
- ``operators``    — the analyzer layer: simplequery / terms / metrics /
                     sudden_appearance / word2vec-prob, decision frontiers,
                     whitelisting, plus training-data-pipeline operators
                     (dedup, similarity search, text analysis).
- ``functions``    — scalar metric functions (entropy, base64/hex/url length)
                     as Arrow-vectorized pandas UDFs (ref: app/analyzers/metrics.py).
"""

__version__ = "0.1.0"

import functools as _functools
import hashlib as _hashlib
import os as _os
import sys as _sys
import tempfile as _tempfile
import zipfile as _zipfile


def _guard_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's central
    directory only when the archive changed since its directory was last read.

    A PySpark worker calls ``importlib.invalidate_caches()`` once per task,
    before the UDF runs (``pyspark/worker_util.setup_spark_files``). On
    CPython < 3.12 every ``zipimporter`` then re-reads its whole archive at
    once; 3.12 made that lazy (gh-103200). A reused worker holds about 17 of
    them (pyspark.zip, the spark-core jar, py4j, the py-files zip), so each
    task of every Python-UDF job paid 150-280 ms re-reading archives that
    never change.

    The guarded version stats the archive and keeps the cached directory
    when ``(st_mtime_ns, st_size)`` equals the stat taken just before the
    last read; any other stat, a missing archive or a directory not yet read
    through the guard re-reads exactly as before, so a changed archive is
    still re-read. Importers over one archive share its directory (as
    ``zipimport._zip_directory_cache`` already does), so a change is read
    once, not once per importer.

    Engine kernels are pickled by reference, so a worker imports this
    package while unpickling its first task's UDF — after that task's
    ``invalidate_caches`` call. The first task of each worker therefore
    still pays the re-read, and its second task reads each archive once more
    to record the stat; every later task reads none. A no-op on Python
    >= 3.12."""
    if _sys.version_info >= (3, 12):
        return
    import zipimport

    cls = zipimport.zipimporter
    if hasattr(cls.__dict__.get("invalidate_caches"), "__wrapped__"):
        return
    reread = cls.invalidate_caches
    directories = zipimport._zip_directory_cache
    read_at: dict[str, tuple[int, int]] = {}

    @_functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = _os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        files = directories.get(self.archive)
        if (key is not None and files is not None
                and read_at.get(self.archive) == key):
            self._files = files
            return
        read_at.pop(self.archive, None)
        reread(self)
        if key is not None and self.archive in directories:
            read_at[self.archive] = key

    cls.invalidate_caches = invalidate_caches


_guard_zip_rereads()


def _py_files_zip(pkg_dir: str, out_dir: str) -> str:
    """Path of a zip of ``pkg_dir``'s ``.py`` sources in ``out_dir``, named by
    the sha256 of every source's package-relative path and bytes, written
    only when that path does not exist yet.

    A path therefore never changes content: a zip left by another checkout
    has another name, and an existing zip is reused as it is. The zip is
    written to a unique temp file and renamed into place, so sessions
    sharing ``out_dir`` never read a partial one."""
    base = _os.path.dirname(pkg_dir)
    sources = []
    for root, dirs, files in _os.walk(pkg_dir):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                full = _os.path.join(root, f)
                sources.append((full, _os.path.relpath(full, base)))
    digest = _hashlib.sha256()
    for full, rel in sources:
        with open(full, "rb") as fh:
            data = fh.read()
        name = rel.encode()
        digest.update(b"%d:%s%d:" % (len(name), name, len(data)))
        digest.update(data)
    zip_path = _os.path.join(
        out_dir, f"ee_outliers_spark_pyfiles-{digest.hexdigest()[:20]}.zip")
    if _os.path.exists(zip_path):
        return zip_path
    fd, tmp = _tempfile.mkstemp(dir=out_dir, suffix=".zip.tmp")
    try:
        with _os.fdopen(fd, "wb") as fh, _zipfile.ZipFile(fh, "w") as zf:
            for full, rel in sources:
                zf.write(full, rel)
        _os.replace(tmp, zip_path)
    finally:
        if _os.path.exists(tmp):
            _os.unlink(tmp)
    return zip_path


def ensure_py_files(spark) -> None:
    """Make this package importable inside executor Python workers regardless
    of the driver's cwd — the local-mode equivalent of
    ``spark-submit --py-files ee_outliers_spark.zip`` (north_rule deploy
    model). Registers, once per SparkContext, a zip of the package's sources
    in ``$TMPDIR`` named by their content hash (``_py_files_zip``), so a zip
    left there by an older checkout is never shipped in place of this one."""
    sc = spark.sparkContext
    if getattr(sc, "_ee_outliers_pyfiles", False):
        return
    pkg_dir = _os.path.dirname(_os.path.abspath(__file__))
    sc.addPyFile(_py_files_zip(pkg_dir, _os.environ.get("TMPDIR", "/tmp")))
    sc._ee_outliers_pyfiles = True
