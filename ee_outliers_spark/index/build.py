"""Index build: single-pass SPIMI per-partition segments.

Replaces the indexing work the reference delegates to Elasticsearch/Lucene
(every query in /root/reference/app/helpers/es.py:664-710 walks an ES
inverted index; here we build that index with Spark jobs).

**SPIMI segments** (``build_segments``): docs are assigned to segments by
``doc_id % num_segments`` (deterministic → resumable), each segment built
*inside one task* with zero token shuffle (the SPIMI trick: partition-local
inversion). The kernel emits, per segment:
- one row per term: delta-gap + varbyte compressed docIDs, varbyte tfs,
  and per-128-posting block metadata (last docID, max tf, min dl — the
  avgdl-INDEPENDENT extremes from which ``block_upper_bound`` derives a
  safe block-max WAND bound at query time, so incremental appends that
  shift avgdl never invalidate old segments);
- one sidecar row (term = NULL) carrying the segment's compressed
  doclen map (docIDs + lengths) and its (n_docs, sum_dl) for global stats.
ONE shuffle (doc→segment repartition), ONE pandas pass, ONE write.

Scale design (10^12 docs):
- token inversion never shuffles: the only data shuffle is the doc→segment
  repartition, column-pruned to (doc_id, text);
- head-term skew ("the", stopwords) cannot blow up a reducer because postings
  for a term are built per-segment — a term's global posting list is never
  materialized on one node; segments bound memory (the SPIMI memory budget =
  corpus_size / num_segments);
- resumability: segments land in ``segments.parquet/seg_id=K/`` directories;
  a manifest records lineage + postings/sec per segment; re-running skips
  completed seg_ids (north_rule: "resumable from checkpoint with
  per-partition lineage + metrics").
"""

from __future__ import annotations

import functools
import json
import math
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import empty_frame
from .codec import varbyte_encode, varbyte_encode_with_lengths

BLOCK = 128
K1 = 1.2
B = 0.75

#: one table holds both row kinds: term rows (postings) and the per-segment
#: doclen sidecar row (term IS NULL) — co-located by construction, so the
#: query side needs no cogroup/join to find a segment's doc lengths.
SEGMENT_SCHEMA = (
    "seg_id int, term string, df_local long, n_postings long, "
    "doc_blob binary, tf_blob binary, pos_blob binary, "
    "block_last_doc array<long>, block_max_tf array<long>, "
    "block_min_dl array<long>, block_pos_ends array<long>, "
    "n_docs long, sum_dl long, build_secs double"
)

#: the term dictionary: one (term, df) row per term of the live segments
TERMSTATS_SCHEMA = "term string, df long"

_SEG_COLS = [
    "seg_id", "term", "df_local", "n_postings", "doc_blob", "tf_blob",
    "pos_blob",
    "block_last_doc", "block_max_tf", "block_min_dl", "block_pos_ends",
    "n_docs", "sum_dl", "build_secs",
]


# --------------------------------------------------------------------------
# BM25 impact math shared by build / merge / query
# --------------------------------------------------------------------------

def block_upper_bound(max_tf, min_dl, avgdl: float):
    """Safe block score upper bound (idf excluded), computed at QUERY time
    from avgdl-independent block metadata (max tf, min dl). Impact is
    monotone ↑tf ↓dl, so impact(max_tf, min_dl) ≥ any posting in the block —
    and stays valid when incremental appends shift the corpus avgdl (stored
    impacts would go stale; stored (tf, dl) extremes cannot)."""
    mt = np.asarray(max_tf, dtype=np.float64)
    md = np.asarray(min_dl, dtype=np.float64)
    return mt * (K1 + 1.0) / (mt + K1 * (1.0 - B + B * md / avgdl))


# --------------------------------------------------------------------------
# SPIMI kernel
# --------------------------------------------------------------------------

def segment_frame(seg_id: int, doc_ids_sorted: np.ndarray, dls_sorted: np.ndarray,
                  tf: pd.DataFrame, elapsed: float,
                  field_sidecars: dict | None = None) -> pd.DataFrame:
    """Assemble one segment's output rows from docID-sorted doc lengths and a
    (term, doc_id, tf) frame sorted by (term, doc_id): the encoder of the
    plain-Python inversion that the kernel oracle tests compare the build
    kernel and the LSM merge against (both call ``_assemble_segment`` on
    flat arrays directly).

    ``field_sidecars`` maps a per-field sidecar term (``"title:"`` — the
    empty-token form no real dictionary entry can take, tokens being
    [a-z0-9]+) to that field's docID-sorted ``(doc_ids, field_dls)`` for
    docs where the field has ≥1 token. Each entry becomes one extra sidecar
    row per segment (Lucene per-field norms: .nvd/.nvm are per field), and
    the block_min_dl metadata of ``field:token`` term rows is computed from
    the FIELD's lengths so WAND upper bounds stay safe under per-field
    scoring.

    When ``tf`` carries a ``poss`` column (per-posting ascending token
    positions; len(poss) == tf), each term row additionally gets a
    ``pos_blob``: delta-gapped, varbyte-compressed positions in docID order
    (Lucene .prx layout) — phrase queries then resolve entirely off the
    index instead of re-tokenizing the corpus (ref F2 quoted phrases,
    /root/reference/app/helpers/es.py:238-250)."""
    terms = tf["term"].to_numpy() if len(tf) else np.empty(0, object)
    doc_np = (tf["doc_id"].to_numpy().astype(np.int64)
              if len(tf) else np.empty(0, np.int64))
    tf_np = (tf["tf"].to_numpy().astype(np.int64)
             if len(tf) else np.empty(0, np.int64))
    flat_pos = None
    if "poss" in tf.columns:
        poss_np = tf["poss"].to_numpy()
        # one global flatten (np.concatenate accepts the object array of
        # per-row position arrays directly — no per-row wrapping)
        flat_pos = (np.concatenate(poss_np).astype(np.int64)
                    if len(tf) else np.empty(0, np.int64))
    return _assemble_segment(seg_id, doc_ids_sorted, dls_sorted, terms,
                             doc_np, tf_np, flat_pos, elapsed,
                             field_sidecars=field_sidecars)


def _assemble_segment(seg_id: int, doc_ids_sorted: np.ndarray,
                      dls_sorted: np.ndarray, terms: np.ndarray,
                      doc_np: np.ndarray, tf_np: np.ndarray,
                      flat_pos: np.ndarray | None,
                      elapsed: float,
                      field_sidecars: dict | None = None) -> pd.DataFrame:
    """Encode one segment from flat row arrays sorted by (term, doc_id) —
    ``flat_pos`` is the concatenated position stream in row order (None for
    non-positional).

    The whole segment encodes in ONE vectorized varbyte pass per stream
    (docs, tfs, positions) — LEB128 is per-value independent, so each
    term's blob is a byte-slice of the global stream at cumsum(lengths)
    offsets, byte-identical to per-term encodes. Block metadata batches
    the same way with ufunc.reduceat over global block boundaries. The
    per-term Python work is reduced to the final row-assembly loop
    (vocabulary-sized): 1.97 s → 0.58 s (positional) / 0.60 s → 0.06 s on
    a 16k-doc segment vs the round-4 per-term encode loop (BENCH.md)."""
    out_rows = []
    n = len(terms)
    if n:
        dl_lookup = dls_sorted[np.searchsorted(doc_ids_sorted, doc_np)]
        if field_sidecars:
            # rows are term-sorted, so every `field:token` row sits in the
            # contiguous range ["field:", "field;") — swap in the FIELD's
            # doc lengths there so block_min_dl bounds per-field impacts
            for fterm, (fdocs, fdls) in field_sidecars.items():
                lo = int(np.searchsorted(terms, fterm, side="left"))
                hi = int(np.searchsorted(terms, fterm[:-1] + ";",
                                         side="left"))
                if lo < hi and len(fdocs):
                    dl_lookup[lo:hi] = fdls[
                        np.searchsorted(fdocs, doc_np[lo:hi])]
        change = np.flatnonzero(terms[1:] != terms[:-1]) + 1
        t_starts = np.concatenate(([0], change))
        t_ends = np.concatenate((change, [n]))
        # docIDs: delta-gapped within each term, absolute at term starts
        # (uint64 wraparound on the cross-term diffs is overwritten — every
        # term boundary IS a t_start)
        gaps = doc_np.astype(np.uint64)
        gaps[1:] = gaps[1:] - doc_np[:-1].astype(np.uint64)
        gaps[t_starts] = doc_np[t_starts]
        doc_bytes, doc_lens = varbyte_encode_with_lengths(gaps)
        tf_bytes, tf_lens = varbyte_encode_with_lengths(tf_np)
        doc_off = np.concatenate(([0], np.cumsum(doc_lens)))
        tf_off = np.concatenate(([0], np.cumsum(tf_lens)))
        pos_all = row_byte = row_bounds = None
        if flat_pos is not None:
            row_bounds = np.concatenate(([0], np.cumsum(tf_np)))
            pgaps = flat_pos.copy()
            if flat_pos.size:
                pgaps[1:] -= flat_pos[:-1]
                rs = row_bounds[:-1]
                pgaps[rs] = flat_pos[rs]  # posting boundaries: absolute
            pos_all, pos_lens = varbyte_encode_with_lengths(pgaps)
            row_byte = np.concatenate(([0], np.cumsum(pos_lens)))
        # block metadata: global block boundaries tile [0, n) exactly
        # (a term's last block ends where the next term's first begins)
        lens = t_ends - t_starts
        nblks = (lens + BLOCK - 1) // BLOCK
        total_blk = int(nblks.sum())
        bo = np.concatenate(([0], np.cumsum(nblks)))
        intra = np.arange(total_blk) - np.repeat(bo[:-1], nblks)
        b_starts = np.repeat(t_starts, nblks) + intra * BLOCK
        b_ends = np.minimum(b_starts + BLOCK, np.repeat(t_ends, nblks))
        blast_all = doc_np[b_ends - 1]
        bmaxtf_all = np.maximum.reduceat(tf_np, b_starts)
        bmindl_all = np.minimum.reduceat(dl_lookup, b_starts)
        bposend_all = None
        if pos_all is not None:
            # byte offset (within the TERM's pos_blob) of each block's end:
            # positions restart absolute at every posting boundary, so any
            # block-aligned byte slice decodes independently — queries
            # decode only the blocks that hold candidate docs (the .prx
            # analogue of block-max skip data; task: sublinear phrases)
            bposend_all = (row_byte[row_bounds[b_ends]]
                           - np.repeat(row_byte[row_bounds[t_starts]], nblks))
        for i in range(len(t_starts)):
            s, e = int(t_starts[i]), int(t_ends[i])
            pos_blob = bpe = None
            if pos_all is not None:
                pos_blob = pos_all[int(row_byte[row_bounds[s]]):
                                   int(row_byte[row_bounds[e]])]
                bpe = bposend_all[int(bo[i]):int(bo[i + 1])].tolist()
            out_rows.append((
                seg_id, terms[s], e - s, e - s,
                doc_bytes[int(doc_off[s]):int(doc_off[e])],
                tf_bytes[int(tf_off[s]):int(tf_off[e])],
                pos_blob,
                blast_all[int(bo[i]):int(bo[i + 1])].tolist(),
                bmaxtf_all[int(bo[i]):int(bo[i + 1])].tolist(),
                bmindl_all[int(bo[i]):int(bo[i + 1])].tolist(),
                bpe,
                None, None, elapsed,
            ))
    # per-field doclen sidecar rows (term = "field:") — the field's own
    # (docID, length) map + its (n_docs, sum_dl) totals, so FieldText atoms
    # score with the field's norm (Lucene per-field .nvd) and stats carry a
    # per-field docCount/avgdl without decoding anything at refresh time
    n_terms = int(len(out_rows))
    n_postings = int(sum(r[3] for r in out_rows))
    if field_sidecars:
        for fterm in sorted(field_sidecars):
            fdocs, fdls = field_sidecars[fterm]
            if not len(fdocs):
                continue
            out_rows.append((
                seg_id, fterm, int(len(fdocs)), int(len(fdocs)),
                varbyte_encode(np.diff(fdocs.astype(np.uint64),
                                       prepend=np.uint64(0))),
                varbyte_encode(fdls.astype(np.uint64)),
                None, None, None, None, None,
                int(len(fdocs)), int(fdls.sum()), elapsed,
            ))
    # doclen sidecar row (term NULL). df_local/n_postings are repurposed to
    # carry the SEGMENT totals (n_terms, n_postings) so manifest + stats are
    # a 1-row-per-segment collect instead of a full segment-table aggregation
    # — that post-build agg was a measurable non-scaling tail.
    out_rows.append((
        seg_id, None, n_terms, n_postings,
        varbyte_encode(np.diff(doc_ids_sorted.astype(np.uint64),
                               prepend=np.uint64(0))),
        varbyte_encode(dls_sorted.astype(np.uint64)),
        None,
        None, None, None, None,
        int(len(doc_ids_sorted)), int(dls_sorted.sum()), elapsed,
    ))
    return pd.DataFrame(out_rows, columns=_SEG_COLS)


def _text_segment_kernel(analyzed_fields: tuple[str, ...] = (),
                         positions: bool = True):
    """applyInPandas kernel (grouped by the segment route key) over raw
    (seg_id, doc_id, text[, fields...]) rows: tokenize, invert (with
    positions when ``positions``), and encode entirely inside the worker —
    the build path for both index shapes.

    Scale rationale (BENCH.md): shipping the TEXT once in the doc→segment
    repartition costs ~1× corpus bytes — the Lucene shape (documents route
    to a shard; the shard's writer tokenizes and builds its own postings).
    Shuffling JVM-tokenized (term, doc[, positions]) pairs instead
    re-ships term strings per posting: ~4× corpus bytes for a positional
    index, and slower for a non-positional one as well (interleaved A/Bs,
    round 7: 6M docs 25-28 s text vs 38-45 s pairs; 600k positional
    10.4 s vs 12.9 s). Inside the kernel everything is C-path: an RE2
    split, Arrow dictionary encoding, one stable argsort by term that
    keeps docs and positions ascending, then the one-pass batch encoder
    (_assemble_segment). tests/test_index_bm25.py pins the output bytes
    against a plain-Python inversion fed to ``segment_frame``."""

    def run(key, pdf):
        import pyarrow as pa
        import pyarrow.compute as pc

        t0 = time.monotonic()
        seg_id = int(pdf["seg_id"].iloc[0])  # grouped by the route key
        pdf = pdf.sort_values("doc_id")
        docs_sorted = pdf["doc_id"].to_numpy(np.int64)

        def tok_stream(texts: pd.Series):
            """(codes int64, counts-per-doc int64, vocab object) without
            materializing one Python object per token: lowercase stays in
            Python (the exact tokenize_py case mapping), the split runs as
            an RE2 kernel on the SAME complement class as tokens_col
            (maximal [a-z0-9] runs = split on [^a-z0-9]+ minus empties),
            and the dictionary comes from Arrow dictionary_encode —
            Python strings exist only at VOCABULARY size. The previous
            pandas str.findall + factorize built ~10^6 list/str objects
            per segment and was the single largest kernel phase (0.93 s of
            a 1.73 s 16k-doc positional kernel; this path: 0.25 s)."""
            low = texts.fillna("").str.lower()
            split = pc.split_pattern_regex(
                pa.array(low, type=pa.string()), "[^a-z0-9]+")
            flat = pc.list_flatten(split)
            keep = pc.not_equal(pc.binary_length(flat), 0)
            flat = flat.filter(keep)
            raw_counts = np.diff(np.asarray(split.offsets, dtype=np.int64))
            if len(flat) == int(raw_counts.sum()):
                counts = raw_counts  # no empty pieces — common fast path
            else:
                parent = np.repeat(
                    np.arange(len(raw_counts), dtype=np.int64), raw_counts)
                counts = np.bincount(
                    parent[np.asarray(keep, dtype=bool)],
                    minlength=len(raw_counts)).astype(np.int64)
            enc = pc.dictionary_encode(flat)
            codes = enc.indices.to_numpy().astype(np.int64, copy=False)
            uniq = np.asarray(enc.dictionary.to_pylist(), dtype=object)
            return codes, counts, uniq

        # Dictionary via Arrow dictionary-encode, then a vocabulary-sized
        # argsort + rank remap. A materialized unicode token array
        # (<U maxlen × 4 B/char) hits ~250 MB/segment on web text and
        # np.unique sorts all of it: measured 5.1 s/segment vs 0.37 s for
        # the hash-encode+rank shape — and the big allocations compound
        # into page-fault storms on this host (BENCH.md round 5).
        code_parts, doc_parts, pos_parts, vocab_parts = [], [], [], []
        code_base = 0
        dls_sorted = None

        def add_stream(texts: pd.Series, prefix: str):
            nonlocal code_base
            codes, counts, uniq = tok_stream(texts)
            total = int(counts.sum())
            if total == 0:
                return counts
            if prefix:
                # prefix at VOCABULARY size, never per token
                uniq = np.array([prefix + t for t in uniq], dtype=object)
            if positions:
                starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
                pos_parts.append(np.arange(total, dtype=np.int64)
                                 - np.repeat(starts, counts))
            doc_parts.append(np.repeat(docs_sorted, counts))
            code_parts.append(codes + code_base if code_base else codes)
            vocab_parts.append(uniq)
            code_base += len(uniq)
            return counts

        dls_sorted = add_stream(pdf["text"], "")
        field_sidecars = {}
        for f in analyzed_fields:
            flens = add_stream(pdf[f], f + ":")
            m = flens > 0
            if m.any():
                # docs_sorted is ascending, so the masked slice stays sorted
                field_sidecars[f + ":"] = (docs_sorted[m], flens[m])

        if not code_parts:
            return _assemble_segment(
                seg_id, docs_sorted, dls_sorted, np.empty(0, object),
                np.empty(0, np.int64), np.empty(0, np.int64),
                np.empty(0, np.int64), time.monotonic() - t0,
                field_sidecars=field_sidecars or None)
        codes_all = (np.concatenate(code_parts) if len(code_parts) > 1
                     else code_parts[0])
        docs_all = (np.concatenate(doc_parts) if len(doc_parts) > 1
                    else doc_parts[0])
        pos_all = (None if not positions
                   else np.concatenate(pos_parts) if len(pos_parts) > 1
                   else pos_parts[0])
        vocab = (np.concatenate(vocab_parts) if len(vocab_parts) > 1
                 else vocab_parts[0])
        # streams are namespace-disjoint (field prefix) and per-stream
        # uniques are unique → the combined vocabulary has no duplicates
        order_v = np.argsort(vocab)
        rank = np.empty(len(vocab), np.int64)
        rank[order_v] = np.arange(len(vocab), dtype=np.int64)
        codes_r = rank[codes_all]
        # single-key STABLE sort: docs_all is ascending within every code
        # value already (each code belongs to exactly one stream, and each
        # stream's docs are repeat(docs_sorted, counts)), so stability
        # yields exactly lexsort((docs, codes)) at about half the cost —
        # and token positions stay ascending within (term, doc) ties
        order = np.argsort(codes_r, kind="stable")
        codes_s = codes_r[order]                 # ascending within (t, doc)
        docs_s = docs_all[order]
        change = np.flatnonzero(
            (codes_s[1:] != codes_s[:-1]) | (docs_s[1:] != docs_s[:-1])) + 1
        row_starts = np.concatenate(([0], change))
        row_ends = np.concatenate((change, [len(codes_s)]))
        sorted_vocab = vocab[order_v]
        return _assemble_segment(
            seg_id, docs_sorted, dls_sorted,
            sorted_vocab[codes_s[row_starts]],
            np.asarray(docs_s[row_starts], dtype=np.int64),
            np.asarray(row_ends - row_starts, dtype=np.int64),
            np.asarray(pos_all[order], dtype=np.int64) if positions else None,
            time.monotonic() - t0,
            field_sidecars=field_sidecars or None)

    return run


_M32 = (1 << 32) - 1


def _mm3_int32(x: int, seed: int = 42) -> int:
    """Murmur3_x86_32 of one int32 — Spark's ``Murmur3Hash`` (= ``F.hash``)
    for IntegerType, which is also what hash partitioning
    (``repartition(n, col)``) runs. Pinned against ``F.hash`` by
    tests/test_index_bm25.py::test_segment_routing_is_one_task_per_segment."""
    k1 = (x & _M32) * 0xCC9E2D51 & _M32
    k1 = ((k1 << 15 | k1 >> 17) & _M32) * 0x1B873593 & _M32
    h1 = seed ^ k1
    h1 = ((h1 << 13 | h1 >> 19) & _M32) * 5 + 0xE6546B64 & _M32
    h1 ^= 4  # total byte length
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & _M32
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _route_keys(n: int) -> list[int]:
    """n int32 values whose Spark hash-partition assignment
    (``pmod(murmur3(x), n)``) is a BIJECTION onto 0..n-1: routes[p] lands in
    partition p. Grouping segments by these keys puts EXACTLY one segment in
    each reduce task. Plain ``groupBy(seg_id)`` hashes the segment keys into
    ``spark.sql.shuffle.partitions`` buckets binomially — measured on
    128 segments: the busiest of 16 reducers packs 12 segments (1.5× the
    mean) vs 41/32 (1.28×) on 4 reducers, a deterministic straggler tail
    that alone costs ~15 points of 4→16 scaling efficiency on the build
    stage. Coupon-collector scan, ~n·ln n probes, microseconds for n≤4096."""
    routes: list[int | None] = [None] * n
    found = 0
    x = 0
    while found < n:
        p = _mm3_int32(x) % n  # python % of signed == Java pmod
        if routes[p] is None:
            routes[p] = x
            found += 1
        x += 1
    return routes  # type: ignore[return-value]


def routed_segment_groupby(df: DataFrame, seg_ids: list[int] | None,
                           col: str = "seg_id"):
    """``df.groupBy("seg_id")`` with guaranteed one-segment-per-reduce-
    partition placement (see ``_route_keys``): the heavy per-segment kernels
    (build inversion, LSM merge — one segment IS the task's memory budget)
    each process one segment per task instead of however many segments
    Spark's hash happens to pack into ``shuffle.partitions`` buckets — on
    128 segments over 32 shuffle partitions the busiest reducer otherwise
    packs ~2× the mean and gates the whole stage. Kernels must read seg_id
    from the pdf. Falls back to the plain groupBy when the id list is
    unknown. Query kernels do not shuffle at all: they read their segments
    in place (``run_segment_kernel``)."""
    if not seg_ids:
        return df.groupBy(col)
    ids = sorted({int(s) for s in seg_ids})
    routes = _route_keys(len(ids))
    mapping = F.create_map(*[F.lit(int(v)) for s, r in zip(ids, routes)
                             for v in (s, r)])
    routed = df.withColumn(
        "_route",
        F.coalesce(mapping[F.col(col)],
                   (-F.col(col) - 1).cast("int")))
    return routed.repartition(len(ids), "_route").groupBy("_route")


def segment_frames_df(base: DataFrame, num_segments: int, positions: bool,
                      analyzed_fields: tuple[str, ...] = (),
                      seg_offset: int = 0,
                      todo: list[int] | None = None) -> DataFrame:
    """SEGMENT_SCHEMA DataFrame for ``base`` (doc_id, text[, fields]): each
    doc's raw text routes to segment ``seg_offset + doc_id % num_segments``
    (one reduce task per segment, ``routed_segment_groupby``) and is
    tokenized, inverted and encoded there by ``_text_segment_kernel``.
    ``todo`` prunes to unfinished segments (resume)."""
    seg = ((F.col("doc_id") % num_segments).cast("int")
           + F.lit(int(seg_offset))).cast("int").alias("seg_id")
    src = base.select(seg, "*")
    ids = [int(seg_offset) + int(s)
           for s in (range(num_segments) if todo is None else todo)]
    if todo is not None:
        src = src.where(F.col("seg_id").isin(ids))
    return routed_segment_groupby(src, ids).applyInPandas(
        _text_segment_kernel(tuple(analyzed_fields), positions=positions),
        schema=SEGMENT_SCHEMA)


@dataclass
class IndexPaths:
    root: str

    @property
    def segments(self) -> str: return os.path.join(self.root, "segments.parquet")
    @property
    def termstats(self) -> str: return os.path.join(self.root, "termstats.parquet")
    @property
    def stats(self) -> str: return os.path.join(self.root, "stats.json")
    @property
    def manifest(self) -> str: return os.path.join(self.root, "manifest.jsonl")


def segment_dir_ids(paths: IndexPaths) -> list[int]:
    """seg_ids of every segment directory on disk, live or dead (``seg_id``
    is the partition column) — no Spark job, unlike a distinct scan."""
    return sorted(int(p.split("=", 1)[1]) for p in os.listdir(paths.segments)
                  if p.startswith("seg_id="))


def read_manifest(paths: IndexPaths) -> list[dict]:
    """manifest.jsonl records in append order ([] before the first write)."""
    if not os.path.exists(paths.manifest):
        return []
    with open(paths.manifest) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def termstats_files(paths: IndexPaths) -> list[str]:
    """The termstats table's parquet files, sorted."""
    return sorted(os.path.join(dp, f) for dp, _, fs in os.walk(paths.termstats)
                  for f in fs if f.endswith(".parquet"))


def load_stats(paths: IndexPaths) -> dict:
    if not os.path.exists(paths.stats):
        return {}
    with open(paths.stats) as fh:
        return json.load(fh)


def commit_stats(paths: IndexPaths, stats: dict) -> None:
    """Atomically replace stats.json — the index's commit point (≈ Lucene's
    segments_N file). Readers that loaded the previous commit keep a
    consistent view; a crash mid-write never exposes a torn file."""
    tmp = paths.stats + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(stats, fh)
    os.replace(tmp, paths.stats)


def live_segment_ids(paths: IndexPaths, stats: dict) -> list[int]:
    """The live seg_ids of commit ``stats``; a commit from before live
    tracking counts every segment directory."""
    live = stats.get("live_segments")
    return segment_dir_ids(paths) if live is None else list(live)


@dataclass(frozen=True)
class SegmentRead:
    """What a query kernel reads of each live segment: the rows whose term
    is in ``terms``, plus the doclen sidecar row (term NULL) when
    ``sidecar``, restricted to ``columns``."""
    terms: tuple[str, ...]
    sidecar: bool
    columns: tuple[str, ...]


@functools.cache
def segment_arrow_schema():
    """SEGMENT_SCHEMA as an Arrow schema without the ``seg_id`` partition
    column, parsed once per driver. Reading with it, a segment written
    before a column existed (``block_pos_ends``) reads that column as
    null."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType, StructType

    return to_arrow_schema(StructType([
        f for f in DataType.fromDDL(SEGMENT_SCHEMA).fields
        if f.name != "seg_id"]))


def run_segment_kernel(spark: SparkSession, paths: IndexPaths, stats: dict,
                       read: SegmentRead, kernel, schema: str) -> DataFrame:
    """``kernel(seg_id, pdf)`` once per live segment of the commit ``stats``,
    each call with exactly that segment's ``read`` rows, and the union of
    the non-empty frames the calls return (``schema``) — the ES shape: a
    query runs where the shard's data lives.

    The driver frame is ``spark.range(n_live)`` over min(cores, n_live)
    partitions; each task maps its ids to live seg_ids and reads each
    segment's directory with pyarrow (``term IN (...) [OR term IS NULL]``,
    pruned columns). No schema-inference job, no exchange, and no posting
    blob crosses from the JVM to Python: the kernel is the query's only
    job. A live segment without a directory (a build whose modulo left it
    empty) reads as empty; dead directories are never opened. A commit
    from before live tracking reads every segment directory."""
    live = live_segment_ids(paths, stats)
    if not live:
        return empty_frame(spark, schema)
    root, arrow_schema = paths.segments, segment_arrow_schema()

    def segment_kernel(batches):
        import pyarrow as pa
        import pyarrow.dataset as ds

        cols = list(read.columns)
        flt = ds.field("term").isin(pa.array(read.terms, pa.string()))
        if read.sidecar:
            flt = flt | ds.field("term").is_null()
        for batch in batches:
            for i in batch["id"]:
                seg = int(live[int(i)])
                seg_dir = os.path.join(root, f"seg_id={seg}")
                table = (ds.dataset(seg_dir, schema=arrow_schema,
                                    format="parquet")
                         .to_table(columns=cols, filter=flt)
                         if os.path.isdir(seg_dir)
                         else arrow_schema.empty_table().select(cols))
                out = kernel(seg, table.to_pandas())
                if len(out):
                    yield out

    cores = spark.sparkContext.defaultParallelism
    return spark.range(len(live), numPartitions=min(cores, len(live))
                       ).mapInPandas(segment_kernel, schema)


#: the bookkeeping columns of the sidecar rows (doclen: term NULL; per-field
#: norms: term "field:") — manifest, stats totals and per-field stats
SIDECAR_COLUMNS = ("term", "n_docs", "sum_dl", "n_postings", "df_local",
                   "build_secs")


def read_segment_rows(paths: IndexPaths, seg_ids: list[int],
                      sidecars: bool = True):
    """Rows of the ``seg_id=K/`` directories ``seg_ids`` as one Arrow table
    with a leading ``seg_id`` column, read on the driver with pyarrow and
    ``segment_arrow_schema()`` (the reader of ``run_segment_kernel``), so
    no Spark job runs. ``sidecars`` selects the sidecar rows with
    ``SIDECAR_COLUMNS``; otherwise the dictionary's (term, df_local) rows.
    An id without a directory (a batch whose modulo left it empty) has no
    rows."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    term = ds.field("term")
    side = term.is_null() | pc.ends_with(term, ":")
    flt, cols = ((side, list(SIDECAR_COLUMNS)) if sidecars
                 else (~side, ["term", "df_local"]))
    schema = segment_arrow_schema()
    tables = []
    for s in seg_ids:
        seg_dir = os.path.join(paths.segments, f"seg_id={int(s)}")
        if os.path.isdir(seg_dir):
            t = ds.dataset(seg_dir, schema=schema, format="parquet").to_table(
                columns=cols, filter=flt)
            tables.append(t.add_column(
                0, "seg_id", pa.array([int(s)] * len(t), pa.int32())))
    if not tables:
        return pa.schema([("seg_id", pa.int32())]
                         + [schema.field(c) for c in cols]).empty_table()
    return pa.concat_tables(tables)


def refresh_stats_and_termstats(spark: SparkSession, paths: IndexPaths,
                                num_segments: int | None = None,
                                segs: DataFrame | None = None,
                                live: list[int] | None = None,
                                positions: bool | None = None,
                                analyzed_fields: list[str] | None = None,
                                sidecar_rows: list | None = None,
                                ) -> None:
    """Recompute stats.json (from doclen sidecar rows) + termstats.parquet
    (vocabulary-sized agg over term rows) from the live segment table.
    ``live``/``positions``/``analyzed_fields`` default to the previous
    commit's values. ``sidecar_rows`` (collect_sidecar_rows of the SAME
    live set) replaces the two stats scan-jobs with driver-side sums."""
    prev = load_stats(paths)
    if live is None:
        live = prev.get("live_segments")
    if positions is None:
        positions = prev.get("positions", False)
    if analyzed_fields is None:
        analyzed_fields = prev.get("analyzed_fields")
    if segs is None:
        segs = spark.read.schema(SEGMENT_SCHEMA).parquet(paths.segments)
        if live is not None:
            segs = segs.where(F.col("seg_id").isin([int(s) for s in live]))
    if sidecar_rows is not None:
        n_docs = sum(int(r["n_docs"]) for r in sidecar_rows
                     if r["term"] is None)
        sum_dl = sum(int(r["sum_dl"]) for r in sidecar_rows
                     if r["term"] is None)
    else:
        srow = segs.where(F.col("term").isNull()).agg(
            F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s")
        ).collect()[0]
        n_docs = int(srow["n"] or 0)
        sum_dl = int(srow["s"] or 0)
    avgdl = (float(sum_dl) / n_docs) if n_docs else 0.0
    # sum_dl is the exact integer total behind avgdl — stored so appends can
    # update the commit point incrementally (old + new-batch totals) without
    # an O(index) rescan; readers only ever use n_docs/avgdl
    stats = {"n_docs": n_docs, "avgdl": avgdl, "sum_dl": sum_dl,
             "k1": K1, "b": B, "block": BLOCK,
             "positions": bool(positions)}
    if analyzed_fields:
        stats["analyzed_fields"] = [f.lower() for f in analyzed_fields]
        # per-field docCount/avgdl from the "field:" sidecar rows' totals
        # (Lucene per-field norms: idf uses the field's docCount, the length
        # norm the field's own avgdl) — a len(fields)×n_segments-row agg
        if sidecar_rows is not None:
            acc: dict[str, list[int]] = {}
            for r in sidecar_rows:
                if r["term"] is not None:
                    a = acc.setdefault(r["term"], [0, 0])
                    a[0] += int(r["n_docs"])
                    a[1] += int(r["sum_dl"])
            frows = [{"term": t, "n": n, "s": s} for t, (n, s) in acc.items()]
        else:
            frows = (
                segs.where(F.col("term").isNotNull()
                           & F.col("term").endswith(":"))
                .groupBy("term")
                .agg(F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s"))
                .collect()
            )
        stats["field_stats"] = {
            r["term"][:-1]: {
                "n_docs": int(r["n"] or 0),
                "avgdl": (float(r["s"]) / int(r["n"])) if r["n"] else 0.0,
                "sum_dl": int(r["s"] or 0),
            }
            for r in frows
        }
    if live is not None:
        stats["live_segments"] = sorted(int(s) for s in live)
    if num_segments is not None:
        stats["num_segments"] = num_segments
    elif "num_segments" in prev:
        stats["num_segments"] = prev["num_segments"]
    # "field:" sidecar rows are norms, not dictionary entries — keep them
    # out of termstats so pattern expansion / df lookups never see them
    ts = (segs.where(F.col("term").isNotNull()
                     & ~F.col("term").endswith(":"))
          .groupBy("term").agg(F.sum("df_local").cast("long").alias("df")))
    ts.write.mode("overwrite").parquet(paths.termstats)
    commit_stats(paths, stats)


def collect_sidecar_rows(segs: DataFrame) -> list:
    """ONE job collecting the sidecar rows (``SIDECAR_COLUMNS``) of the
    build's persisted segment frame. The manifest, stats.json totals and
    per-field stats are all derived from these num_segments ×
    (1 + n_fields) rows driver-side, instead of one scan-job each over the
    (cached, blob-carrying) frame. Appends and merges, whose segments are
    only on disk, read the same rows with ``read_segment_rows`` instead
    (no job)."""
    return (
        segs.where(F.col("term").isNull() | F.col("term").endswith(":"))
        .select("seg_id", *SIDECAR_COLUMNS)
        .collect()
    )


def write_manifest(paths: IndexPaths, lineage: dict, wall: float,
                   sidecar_rows: list) -> None:
    """Append one manifest line per segment of one batch, from the batch's
    doclen sidecar rows (term NULL: the segment's postings and terms
    totals). The batch's ``input_files`` go on its first line only, so a
    build of S segments over F files writes each path once, not S times."""
    rest = {k: v for k, v in lineage.items() if k != "input_files"}
    rows = [r for r in sidecar_rows if r["term"] is None]
    with open(paths.manifest, "a") as fh:
        for i, r in enumerate(rows):
            fh.write(json.dumps({
                "seg_id": int(r["seg_id"]),
                "postings": int(r["n_postings"]),
                "terms": int(r["df_local"]),
                "build_secs": float(r["build_secs"]),
                "postings_per_sec": (float(r["n_postings"])
                                     / max(r["build_secs"], 1e-9)),
                "lineage": lineage if i == 0 else rest,
                "wall_secs_batch": wall,
            }) + "\n")


#: Append-batch termstats merges fold driver-side (pyarrow read-merge-
#: write, zero distributed jobs) when the batch dictionary and the old
#: termstats are provably this small; bigger either way → distributed
#: union-aggregate. ~200k rows ≈ a few MB of (term, df) pairs.
DRIVER_MERGE_MAX_TERMS = 200_000
DRIVER_MERGE_MAX_BYTES = 32 * 1024 * 1024


def incremental_append_refresh(spark: SparkSession, paths: IndexPaths,
                               new_ids: list[int],
                               sidecar_rows: list) -> bool:
    """Append-only commit-point refresh: fold ONE new batch's segment
    totals and term dfs into the previous stats.json / termstats.parquet
    instead of re-aggregating every live segment — O(batch + vocabulary)
    per append, not O(index). With the exact integer totals stored in
    stats.json ("sum_dl", per-field too), the fold is value-identical to
    the full recompute (integer sums are associative; per-term df sums over
    old-termstats ∪ new-batch rows equal the all-segments sums).
    ``sidecar_rows`` are the batch's sidecar rows (``read_segment_rows``).
    The new termstats is written to a sibling tmp dir and swapped in with
    two renames, so a crash never leaves a truncated table — stats.json
    (the commit point) flips atomically afterwards, as always.

    Returns False (no writes) when the previous commit predates the stored
    totals or termstats is missing — callers fall back to the full
    refresh."""
    prev = load_stats(paths)
    if "sum_dl" not in prev or not os.path.isdir(paths.termstats):
        return False
    fs_prev = prev.get("field_stats") or {}
    if any("sum_dl" not in v for v in fs_prev.values()):
        return False
    n_new = sum(int(r["n_docs"]) for r in sidecar_rows if r["term"] is None)
    s_new = sum(int(r["sum_dl"]) for r in sidecar_rows if r["term"] is None)
    stats = dict(prev)
    stats["n_docs"] = int(prev["n_docs"]) + n_new
    stats["sum_dl"] = int(prev["sum_dl"]) + s_new
    stats["avgdl"] = (float(stats["sum_dl"]) / stats["n_docs"]
                      if stats["n_docs"] else 0.0)
    acc: dict[str, list[int]] = {}
    for r in sidecar_rows:
        if r["term"] is not None:
            a = acc.setdefault(r["term"][:-1], [0, 0])
            a[0] += int(r["n_docs"])
            a[1] += int(r["sum_dl"])
    if fs_prev or acc:
        fs: dict[str, dict] = {}
        for f in set(fs_prev) | set(acc):
            v = fs_prev.get(f) or {"n_docs": 0, "sum_dl": 0}
            n = int(v["n_docs"]) + acc.get(f, (0, 0))[0]
            s = int(v["sum_dl"]) + acc.get(f, (0, 0))[1]
            fs[f] = {"n_docs": n, "avgdl": (float(s) / n) if n else 0.0,
                     "sum_dl": s}
        stats["field_stats"] = fs
    live = prev.get("live_segments")
    if live is not None:
        stats["live_segments"] = sorted(
            {int(s) for s in live} | {int(s) for s in new_ids})
    # termstats merge. The batch's dictionary row count is known from the
    # sidecars (Σ df_local over the new segments' doclen rows), so a SMALL
    # batch against a SMALL dictionary folds entirely on the driver: a
    # pyarrow read of the new (term, df) rows (``read_segment_rows``) and a
    # read-merge-write of termstats — no Spark job, the right cost for
    # streaming many tiny batches (a Lucene-style in-process small-segment
    # merge). A big batch or a big dictionary keeps the distributed
    # union-aggregate.
    n_term_rows = sum(int(r["df_local"]) for r in sidecar_rows
                      if r["term"] is None)
    ts_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(paths.termstats) for f in fs)
    tmp = paths.termstats + ".tmp"
    old = paths.termstats + ".old"
    shutil.rmtree(tmp, ignore_errors=True)
    if (n_term_rows <= DRIVER_MERGE_MAX_TERMS
            and ts_bytes <= DRIVER_MERGE_MAX_BYTES):
        import pyarrow as pa
        import pyarrow.parquet as pq

        ts_schema = pa.schema([("term", pa.string()), ("df", pa.int64())])
        new_ts = read_segment_rows(paths, new_ids, sidecars=False)
        parts = [pq.read_table(f).select(["term", "df"]).cast(ts_schema)
                 for f in termstats_files(paths)]
        parts.append(pa.table([new_ts["term"], new_ts["df_local"]],
                              schema=ts_schema))
        merged = (pa.concat_tables(parts)
                  .group_by("term", use_threads=False)
                  .aggregate([("df", "sum")]))
        os.makedirs(tmp)
        pq.write_table(
            pa.table([merged["term"], merged["df_sum"]], schema=ts_schema),
            os.path.join(tmp, "part-00000.parquet"))
    else:
        new_ts = (
            spark.read.schema(SEGMENT_SCHEMA).parquet(paths.segments)
            .where(F.col("seg_id").isin([int(s) for s in new_ids])
                   & F.col("term").isNotNull()
                   & ~F.col("term").endswith(":"))
            .select("term", F.col("df_local").cast("long").alias("df")))
        merged = (spark.read.schema(TERMSTATS_SCHEMA).parquet(paths.termstats)
                  .unionByName(new_ts)
                  .groupBy("term").agg(F.sum("df").cast("long").alias("df")))
        merged.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(paths.termstats, old)
    os.rename(tmp, paths.termstats)
    shutil.rmtree(old, ignore_errors=True)
    commit_stats(paths, stats)
    return True


def auto_num_segments(spark: SparkSession, n_docs: int,
                      docs_per_segment: int = 16_384,
                      cap: int = 4096) -> int:
    """SPIMI memory-budget segment count.

    One segment is one applyInPandas task that materializes its full
    (term, doc, tf[, poss]) frame: web-scale docs average a few hundred
    distinct (term, doc) pairs at ~40 B each, so ``docs_per_segment``=16k
    keeps a task's frame in the low hundreds of MB — comfortably inside an
    executor core's share even with the pandas/Arrow copy. A corpus below
    one wave's budget gets a NEED-SCALED count, not one segment per core
    (round-7 revision of the round-6 cores-floor): segments of ~4k docs
    (budget/4) keep per-task kernel work well above per-task overhead
    while spinning only as many Python workers as the data justifies —
    interleaved fresh-JVM A/Bs (bench_evidence/segfloor_r7/) measured the
    5k-doc build 4.4-5.1 s at 2-5 segments vs 5.2-6.0 s at the 32-segment
    cores floor, and the 50k-doc build 4.4-4.5 s at 13 segments vs
    5.3-5.5 s at 32, with every query shape 10-30% faster on the smaller
    index (fewer per-segment files; query kernels run at most `cores`
    tasks either way — ``run_segment_kernel`` — so the old many-segments
    query argument is gone).
    The floor stays ≥ the SPIMI need (smaller-than-budget segments only —
    the safe direction) and ≤ cores, so corpora past one wave are
    untouched. The cap bounds the partition-directory count for one
    index — a corpus that would exceed it (≫10^8 docs) should shard into
    multiple indexes (by day/tenant), which the day-partitioned layout
    already does.
    """
    cores = spark.sparkContext.defaultParallelism
    need = math.ceil(max(1, n_docs) / docs_per_segment)
    if need <= cores:
        return min(cores, max(need, math.ceil(
            max(1, n_docs) / max(1, docs_per_segment // 4))))
    # Need-based count, NOT rounded down to whole waves (round-7 revision
    # of the round-6 wave alignment): the two-armed interleaved probe at
    # 2.4M docs (bench_evidence/wave_align_r7/) measured ceil-need 147
    # segments ~10% FASTER to build than wave-aligned 128 in every round —
    # smaller segments' per-task cost is sub-linear enough that a ragged
    # extra wave of cheaper tasks beats exact waves of pricier ones. The
    # round-6 query-side argument for alignment (per-query cost linear in
    # segment count) is gone: query kernels run at most `cores` tasks
    # regardless of segment count (run_segment_kernel).
    return min(cap, need)


def build_segments(
    spark: SparkSession,
    df: DataFrame,
    doc_col: str,
    text_col: str,
    out_dir: str,
    num_segments: int | None = 32,
    resume: bool = True,
    positions: bool = False,
    analyzed_fields: list[str] | None = None,
) -> IndexPaths:
    """Single-pass SPIMI index build with checkpointed, resumable segments.

    Lineage + postings/sec per segment land in ``manifest.jsonl``
    (north_rule: per-partition checkpoints, lineage, metrics).
    ``positions=True`` stores per-posting token positions (pos_blob) so
    phrase queries run off the index; the payload is O(total tokens), as
    Lucene's .prx.
    ``analyzed_fields`` indexes extra text columns as ``field:token``
    per-field dictionary terms (ES analyzes every text field; `field:value`
    then resolves index-backed — see queryparser.FieldText).
    ``num_segments=None`` derives the count from the corpus size and core
    count (``auto_num_segments`` — the SPIMI memory budget)."""
    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    if analyzed_fields is None:
        # warm slot / resume: inherit the commit point's field list so a
        # resumed build never silently drops per-field terms
        analyzed_fields = load_stats(paths).get("analyzed_fields") or []
    analyzed_fields = [f.lower() for f in analyzed_fields]

    base = df.select(
        F.col(doc_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
        *[F.col(f).cast("string").alias(f.lower()) for f in analyzed_fields],
    )
    if num_segments is None:
        num_segments = auto_num_segments(spark, base.count())

    done = {r["seg_id"] for r in read_manifest(paths)} if resume else set()

    todo = [s for s in range(num_segments) if s not in done]
    live = sorted(set(range(num_segments)) | done)
    if todo:
        t0 = time.monotonic()
        seg_df = segment_frames_df(
            base, num_segments, positions,
            analyzed_fields=tuple(analyzed_fields), todo=todo)
        mode = "append" if done else "overwrite"
        # persist the segment frame so manifest + stats + termstats reuse the
        # already-computed blobs in memory instead of re-listing and
        # re-reading the (num_segments-dir) parquet table — the read-back was
        # a measurable non-scaling tail on the build critical path
        seg_df = seg_df.persist()
        seg_df.write.mode(mode).partitionBy("seg_id").parquet(paths.segments)
        wall = time.monotonic() - t0
        # one bookkeeping job feeds manifest + stats totals + field stats
        # (fresh build: seg_df IS the live set; on resume the totals must
        # also cover previously-completed segments, so only the manifest
        # can use it there)
        sidecar = collect_sidecar_rows(seg_df)
        write_manifest(
            paths,
            {"source": df.schema.simpleString(), "doc_col": doc_col,
             "text_col": text_col, "num_segments": num_segments,
             "positions": positions, "analyzed_fields": analyzed_fields,
             "input_files": sorted(df.inputFiles())},
            wall, sidecar)
        if done:
            # resume: stats must also cover previously-completed segments
            refresh_stats_and_termstats(spark, paths, num_segments,
                                        live=live, positions=positions,
                                        analyzed_fields=analyzed_fields)
        else:
            refresh_stats_and_termstats(spark, paths, num_segments,
                                        segs=seg_df, live=live,
                                        positions=positions,
                                        analyzed_fields=analyzed_fields,
                                        sidecar_rows=sidecar)
        seg_df.unpersist()
    elif not (os.path.exists(paths.stats)
              and os.path.isdir(paths.termstats)):
        # nothing to build AND the derived stats are missing (e.g. a crash
        # landed between segment write and refresh) — recompute them; on a
        # fully-built index this is a no-op instead of a full re-read +
        # termstats rewrite per call
        refresh_stats_and_termstats(spark, paths, num_segments,
                                    live=live, positions=positions,
                                    analyzed_fields=analyzed_fields)
    return paths
