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

import os as _os
import zipfile as _zipfile


def ensure_py_files(spark) -> None:
    """Make this package importable inside executor Python workers regardless
    of the driver's cwd — the local-mode equivalent of
    ``spark-submit --py-files ee_outliers_spark.zip`` (north_rule deploy
    model). Zips the package once per session and registers it via
    ``sc.addPyFile`` (idempotent)."""
    sc = spark.sparkContext
    if getattr(sc, "_ee_outliers_pyfiles", False):
        return
    pkg_dir = _os.path.dirname(_os.path.abspath(__file__))
    zip_path = _os.path.join(
        _os.environ.get("TMPDIR", "/tmp"), "ee_outliers_spark_pyfiles.zip"
    )
    if not _os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with _zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in _os.walk(pkg_dir):
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = _os.path.join(root, f)
                    rel = _os.path.relpath(full, _os.path.dirname(pkg_dir))
                    zf.write(full, rel)
        _os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    sc._ee_outliers_pyfiles = True
