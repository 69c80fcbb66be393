"""Index and results tables are read with their known schema. A
``spark.read.parquet(path)`` without ``.schema(...)`` runs one Spark job to
infer the schema (74–260 ms measured on a 4-core host), so parse the index,
streaming and results modules (never import them) and fail on any
``read.parquet`` / ``readStream.parquet`` call whose chain has no
``.schema(...)``.

``index/cache.py`` is exempt: it reads the caller's corpus tables, whose
schema belongs to the caller, not to the index."""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(ROOT, "ee_outliers_spark")
EXEMPT = {os.path.join("index", "cache.py")}


def _files() -> list[str]:
    files = [
        *glob.glob(os.path.join(PKG_DIR, "index", "*.py")),
        *glob.glob(os.path.join(PKG_DIR, "streaming", "*.py")),
        os.path.join(PKG_DIR, "sources", "results.py"),
    ]
    return sorted(f for f in files
                  if os.path.relpath(f, PKG_DIR) not in EXEMPT)


def schemaless_reads(source: str) -> list[int]:
    """Line numbers of ``<x>.read.parquet(...)`` / ``<x>.readStream
    .parquet(...)`` calls: with ``.schema(...)`` in the chain the receiver
    of ``.parquet`` is that call, not the reader attribute."""
    return [n.lineno for n in ast.walk(ast.parse(source))
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute) and n.func.attr == "parquet"
            and isinstance(n.func.value, ast.Attribute)
            and n.func.value.attr in ("read", "readStream")]


def test_schemaless_reads_detected():
    assert schemaless_reads("df = spark.read.parquet(p)") == [1]
    assert schemaless_reads("df = s.readStream.parquet(p)") == [1]
    assert schemaless_reads("df = spark.read.schema(S).parquet(p)") == []
    assert schemaless_reads("df.write.parquet(p)") == []


def test_index_and_results_reads_pass_a_schema():
    files = _files()
    assert len(files) > 5
    hits = []
    for path in files:
        with open(path) as fh:
            hits += [f"{os.path.relpath(path, ROOT)}:{line}"
                     for line in schemaless_reads(fh.read())]
    assert not hits, f"pass the known schema with .schema(...): {hits}"
