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
- ``stream_index_updates``— Structured Streaming over a parquet directory
                            with ``Trigger.AvailableNow``: each micro-batch
                            feeds append_segments via foreachBatch; the
                            checkpoint gives exactly-once file processing —
                            the scalable replacement for "re-scan everything
                            daily" (ST1/ST2: incremental snapshot reads).

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
    SEGMENT_SCHEMA, IndexPaths, collect_sidecar_rows,
    incremental_append_refresh, load_stats, read_manifest,
    refresh_stats_and_termstats, segment_dir_ids, segment_frames_df,
    write_manifest,
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
    if base.isEmpty():
        return []

    positions = bool(stats.get("positions", False))  # match the base index
    base_seg = max(segment_dir_ids(paths), default=0) + 1

    t0 = time.monotonic()
    segment_frames_df(
        base, num_segments, positions, analyzed_fields=tuple(analyzed),
        seg_offset=base_seg,
    ).write.mode("append").partitionBy("seg_id").parquet(paths.segments)
    wall = time.monotonic() - t0

    new_ids = list(range(base_seg, base_seg + num_segments))
    # ONE pruned job over the new batch's partition dirs feeds the manifest
    # AND the incremental stats fold
    new_segs = spark.read.schema(SEGMENT_SCHEMA).parquet(
        paths.segments).where(F.col("seg_id").isin(new_ids))
    sidecar = collect_sidecar_rows(new_segs)
    write_manifest(spark, paths, new_ids,
                   {"kind": "incremental_append", "base_seg": base_seg}, wall,
                   sidecar_rows=sidecar)
    # stats (n_docs, avgdl) + termstats refresh — old segments stay valid
    # under avgdl drift because block metadata is avgdl-independent.
    # Incremental fold (O(batch + vocab), not O(index)); full recompute
    # only when the commit predates the stored integer totals.
    if not incremental_append_refresh(spark, paths, new_ids,
                                      sidecar_rows=sidecar):
        live = stats.get("live_segments")
        new_live = (sorted(set(live) | set(new_ids))
                    if live is not None else None)
        refresh_stats_and_termstats(spark, paths, live=new_live)
    done = {r["seg_id"] for r in read_manifest(paths)}
    return sorted(s for s in new_ids if s in done)


def stream_index_updates(
    spark: SparkSession,
    input_dir: str,
    paths: IndexPaths,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    num_segments: int = 4,
    max_live_segments: int = 64,
    merge_fanin: int = 4,
    settings=None,
) -> None:
    """Process all unseen parquet files under input_dir into new segments
    (Trigger.AvailableNow + checkpoint = exactly-once incremental ingestion),
    then return. After each micro-batch the LSM merge POLICY runs
    (``compact_if_needed``): whenever the live segment count exceeds
    ``max_live_segments``, the ``merge_fanin`` smallest segments fold into
    one behind the crash-safe commit flip — a long-running ingest keeps a
    bounded, queryable segment count without operator intervention (Lucene
    merges on a policy, not by hand). ``max_live_segments=0`` disables.

    ``settings`` (config.GeneralSettings, from an outliers.conf ``[index]``
    section) overrides the policy knobs — per-batch segment count,
    max_live_segments, merge_fanin; positions/analyzed_fields always follow
    the index's own commit point (append_segments inherits them)."""
    from ..index.merge import compact_if_needed

    if settings is not None:
        # only override knobs the conf file actually set (None = absent) —
        # an explicit caller argument must not lose to a missing [index] key
        num_segments = settings.num_segments or num_segments
        if settings.max_live_segments is not None:
            max_live_segments = settings.max_live_segments
        if settings.merge_fanin is not None:
            merge_fanin = settings.merge_fanin

    stream = (
        spark.readStream.schema(schema).parquet(input_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        append_segments(spark, batch_df, paths, num_segments=num_segments)
        if max_live_segments:
            compact_if_needed(spark, paths, max_live=max_live_segments,
                              fanin=merge_fanin)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_window_counts(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_len: str = "1 hour",
    watermark: str = "30 minutes",
) -> None:
    """Watermarked tumbling-window counts over a growing parquet directory —
    the Structured Streaming twin of the batch terms-over-time aggregation
    (the reference's daemon re-aggregates the full rolling window every
    tick; this keeps windowed state in the checkpoint and touches only new
    files per trigger).

    Semantics under ``withWatermark``: a window [s, s+len) is finalized and
    APPENDED to the parquet sink exactly once, when the watermark
    (max event time − ``watermark``) passes s+len; events later than the
    watermark are dropped (never mutate an emitted window), while
    in-watermark stragglers still update their open window. State and the
    watermark survive restarts via the checkpoint, so repeated
    Trigger.AvailableNow runs over an appended directory behave like one
    continuous stream."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len).alias("w"),
                 F.col(key_col))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), key_col, "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_first_seen(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str,
    agg_col: str = "aggregator",
    target_col: str = "target",
    ts_col: str = "ts",
) -> None:
    """Streaming first-occurrence detection — the reference's
    sudden_appearance (A4/W1, app/analyzers/sudden_appearance.py) as a TRUE
    stateful streaming operator instead of a per-tick re-aggregation: the
    set of targets already seen per aggregator lives in Spark's keyed state
    store (``applyInPandasWithState``), survives restarts via the
    checkpoint, and each micro-batch emits exactly the (aggregator, target)
    pairs appearing for the first time ever, with their first event time.
    State is O(distinct targets) per aggregator key and partitions by the
    group key like any keyed stream."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(input_dir)

    def first_seen(key, pdfs, state):
        seen = set(state.get[0]) if state.exists else set()
        rows: dict[str, object] = {}
        for pdf in pdfs:
            for tgt, ts in zip(pdf[target_col], pdf[ts_col]):
                if tgt in seen:
                    continue
                if tgt not in rows or ts < rows[tgt]:
                    rows[tgt] = ts
        if rows:
            seen.update(rows)
            state.update((sorted(seen),))
            yield pd.DataFrame({
                agg_col: [key[0]] * len(rows),
                target_col: list(rows.keys()),
                "first_ts": list(rows.values()),
            })

    out = (
        stream.groupBy(agg_col).applyInPandasWithState(
            first_seen,
            outputStructType=(f"{agg_col} string, {target_col} string, "
                              f"first_ts timestamp"),
            stateStructType="seen array<string>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
