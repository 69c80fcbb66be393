"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query: BM25 top-k over an inverted index built
from sf0.001 documents. ``queries()`` / ``oracle_sql()`` — one entry per
implemented operator from SURVEY.md §2, checked against DuckDB at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ee_outliers_spark import entrypoints as _ep


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-20 conjunctive query via ``bm25_topk_wand``."""
    return _ep.flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ep.queries()


def oracle_sql() -> dict[str, str]:
    return _ep.oracle_sql()
