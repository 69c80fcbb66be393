"""Incremental index maintenance + daemon semantics (SURVEY §2.9 ST1-ST5).

The reference daemon re-runs every analyzer on a cron tick over a rolling
history window (/root/reference/app/outliers.py:103-198 — batch, not true
streaming). The Spark-native equivalents:

- ``append_segments``     — add a batch of NEW docs as fresh SPIMI segments
                            (monotonic seg_ids), update doclen/stats/termstats
                            + manifest. Because block metadata is
                            avgdl-independent (build.block_upper_bound), old
                            segments stay exactly correct as avgdl drifts.
                            Periodic ``merge_segments`` keeps segment counts
                            logarithmic (the LSM part).
- ``catch_up``            — bring an index level with its append-only
                            table: the table's files that no manifest
                            record lists go through append_segments, then
                            the LSM merge policy runs (``compact_if_needed``).
                            The CLI calls it at startup and before every
                            daemon tick, so a filter never answers from an
                            index that lacks rows the table holds (ST1/ST2:
                            incremental snapshot reads).

A reference-style tick has no function of its own: it is
``config.run_all`` over the rolling window, which plans every use case and
merges all their outliers into the results store with one
``OutlierStore.upsert`` (housekeeping's whitelist re-application is
OutlierStore.housekeep_whitelist, ST4).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.build import (
    IndexPaths, incremental_append_refresh, load_stats, read_manifest,
    read_segment_rows, refresh_stats_and_termstats, segment_dir_ids,
    segment_frames_df, write_manifest,
)


def append_segments(
    spark: SparkSession,
    new_docs: DataFrame,
    paths: IndexPaths,
    doc_col: str = "doc_id",
    text_col: str = "text",
    num_segments: int = 8,
) -> list[int]:
    """Index a batch of new docs as fresh segments. Returns new seg_ids.
    Assumes doc ids are globally unique across batches (url→docID contract).
    Positions AND per-field analyzed terms match the base index's commit
    point — an append can never silently drop either."""
    stats = load_stats(paths)
    analyzed = [f.lower() for f in stats.get("analyzed_fields") or []]
    base = new_docs.select(
        F.col(doc_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
        *[F.col(f).cast("string").alias(f) for f in analyzed],
    )
    positions = bool(stats.get("positions", False))  # match the base index
    base_seg = max(segment_dir_ids(paths), default=0) + 1

    t0 = time.monotonic()
    segment_frames_df(
        base, num_segments, positions, analyzed_fields=tuple(analyzed),
        seg_offset=base_seg,
    ).write.mode("append").partitionBy("seg_id").parquet(paths.segments)
    wall = time.monotonic() - t0

    new_ids = list(range(base_seg, base_seg + num_segments))
    # the batch's sidecar rows, read on the driver, feed the manifest AND
    # the incremental stats fold; an empty batch wrote no segment
    # directory, so it has none and commits nothing
    sidecar = read_segment_rows(paths, new_ids).to_pylist()
    if not sidecar:
        return []
    write_manifest(paths, {"kind": "incremental_append", "base_seg": base_seg,
                           "input_files": sorted(new_docs.inputFiles())},
                   wall, sidecar)
    # stats (n_docs, avgdl) + termstats refresh — old segments stay valid
    # under avgdl drift because block metadata is avgdl-independent.
    # Incremental fold (O(batch + vocab), not O(index)); full recompute
    # only when the commit predates the stored integer totals.
    if not incremental_append_refresh(spark, paths, new_ids, sidecar):
        live = stats.get("live_segments")
        new_live = (sorted(set(live) | set(new_ids))
                    if live is not None else None)
        refresh_stats_and_termstats(spark, paths, live=new_live)
    return sorted(int(r["seg_id"]) for r in sidecar if r["term"] is None)


def catch_up(
    spark: SparkSession,
    table: DataFrame,
    paths: IndexPaths,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> list[int]:
    """Index the rows of ``table``'s files that the index has not recorded,
    then run the merge policy with its defaults. Returns the new seg_ids
    ([] when every file is recorded; that case runs no Spark job).

    ``table`` is read from an append-only parquet table with unique keys
    (the ``append_segments`` contract). A file counts as indexed
    when a manifest record's lineage lists it: ``build_segments`` and
    ``append_segments`` record ``inputFiles()``, a driver-side listing. The
    new files are read on their own, so a column that exists only as a
    partition directory of the table reads as null here.

    Raises ``ValueError`` for an index whose manifest lists no source file:
    which of the table's rows it lacks cannot be told."""
    from ..index.merge import compact_if_needed

    recorded = {f for r in read_manifest(paths)
                for f in r["lineage"].get("input_files", ())}
    if not recorded:
        raise ValueError(f"index {paths.root} records no source file; "
                         f"rebuild it to index its table's new rows")
    new = sorted(set(table.inputFiles()) - recorded)
    if not new:
        return []
    new_docs = spark.read.schema(table.schema).parquet(*new)
    new_ids = append_segments(spark, new_docs, paths, doc_col, text_col)
    compact_if_needed(spark, paths)
    return new_ids
