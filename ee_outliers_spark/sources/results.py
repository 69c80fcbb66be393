"""Outlier write-back sink (SURVEY §1.3, S5/S6;
/root/reference/app/helpers/es.py:388-487,590-617).

The reference mutates matched ES documents in place: ``tags += ['outlier']``
and an ``outliers`` dict-of-arrays merged per hit, through buffered bulk
partial updates (flush at 1000, retry_on_conflict 10). The idiomatic
lakehouse equivalent is an **append-only results table keyed by
(model_name, doc key)** + a MERGE-style upsert:

    outliers(doc_key, model_name, model_type, reason, summary, obs json,
             detected_ts)

On Iceberg this is ``MERGE INTO outliers USING new ON key WHEN NOT MATCHED
THEN INSERT`` (or UPDATE for re-detection). This sandbox has no Iceberg
runtime jars, so the same semantics run on parquet: anti-join new against
existing, append the difference (idempotent batch write — re-running a model
never duplicates rows). Wipe-model (es.py:358-386 update_by_query) becomes a
filtered overwrite.

Enriched views (the ES read-side equivalent): ``with_outlier_tags`` joins the
events table with its outliers, reproducing the `tags`/`outliers.*` shape
that downstream filters use (e.g. simplequery's must_not on
``outliers.model_name.keyword`` — ref F4/F5).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import empty_frame, materialize

RESULTS_SCHEMA = (
    "doc_key string, model_name string, model_type string, "
    "reason string, summary string, observations string, detected_ts timestamp"
)


class OutlierStore:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        # {model_name: rows inserted} of the last upsert; a model with no
        # new row is absent
        self.last_inserted: dict[str, int] = {}

    def _exists(self) -> bool:
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        if not self._exists():
            return empty_frame(self.spark, RESULTS_SCHEMA)
        return self.spark.read.schema(RESULTS_SCHEMA).parquet(self.path)

    def upsert(self, new: DataFrame) -> int:
        """Idempotent merge: insert rows whose (doc_key, model_name) is not
        already present (ref: save_outlier dedups per doc+model via the
        must_not exclusion upstream). ``new`` may hold any number of
        models' rows; they go in as one write, the bulk request of the
        reference. Sets ``last_inserted`` to the per-model counts and
        returns their sum."""
        new = new.select(
            F.col("doc_key").cast("string"),
            "model_name", "model_type", "reason", "summary", "observations",
            "detected_ts",
        ).dropDuplicates(["doc_key", "model_name"])
        if self._exists():
            existing = self.read().select("doc_key", "model_name")
            new = new.join(existing, ["doc_key", "model_name"], "left_anti")
        # the per-model count and the append read ONE computation of the
        # anti-join; unlike a persisted frame, a materialized one keeps
        # AQE's coalescing, so a small batch is written as one file
        new = materialize(new)
        self.last_inserted = {
            r["model_name"]: r["count"]
            for r in new.groupBy("model_name").count().collect()}
        if self.last_inserted:
            new.write.mode("append").parquet(self.path)
        return sum(self.last_inserted.values())

    def _rewrite(self, kept: DataFrame) -> None:
        """Replace the store with ``kept``, computed in full BEFORE the
        source files are deleted."""
        kept = materialize(kept)
        kept.write.mode("overwrite").parquet(self.path + ".tmp")
        shutil.rmtree(self.path)
        os.rename(self.path + ".tmp", self.path)

    def wipe_model(self, model_name: str) -> None:
        """ref es.py:358-386: remove a model's outliers (scripted
        update_by_query) — filtered rewrite here."""
        if not self._exists():
            return
        self._rewrite(self.read().where(F.col("model_name") != model_name))

    def housekeep_whitelist(self, whitelisted_keys: DataFrame) -> None:
        """ref housekeeping.py:22-79: drop now-whitelisted outliers."""
        if not self._exists():
            return
        self._rewrite(self.read().join(
            whitelisted_keys.select(F.col("doc_key").cast("string")),
            "doc_key", "left_anti",
        ))


def with_outlier_tags(events: DataFrame, outliers: DataFrame,
                      key_col: str) -> DataFrame:
    """Read-side enrichment view: events + tags array + outlier model names
    (the shape the reference's term filters query — ref F4
    `{"term": {"tags": "outlier"}}` / `outliers.model_name.keyword`)."""
    agg = outliers.groupBy(F.col("doc_key")).agg(
        F.sort_array(F.collect_set("model_name")).alias("outlier_model_names")
    )
    joined = events.join(
        agg, events[key_col].cast("string") == agg["doc_key"], "left"
    ).drop("doc_key")
    tags = F.when(
        F.col("outlier_model_names").isNotNull(), F.array(F.lit("outlier"))
    ).otherwise(F.array().cast("array<string>"))
    return joined.withColumn("tags", tags).withColumn(
        "outlier_model_names",
        F.coalesce(F.col("outlier_model_names"), F.array().cast("array<string>")),
    )
