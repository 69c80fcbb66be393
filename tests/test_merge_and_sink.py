"""LSM segment merge preserves rank-identity; outlier sink merge semantics."""

import datetime as dt
import math
import os

from ee_outliers_spark.index.build import build_segments, load_stats
from ee_outliers_spark.index.merge import merge_segments
from ee_outliers_spark.index.query import bm25_topk_wand
from ee_outliers_spark.oracle import OracleIndex
from ee_outliers_spark.sources.results import OutlierStore


def test_merge_preserves_rank_identity(spark, documents, docs_dict, tmp_path_factory):
    """Full compaction keeps BM25 ranks, and its commit changes only
    ``live_segments``: a doc-disjoint merge moves neither ``n_docs`` nor any
    df, so stats.json keeps every other value and termstats its bytes."""
    out = str(tmp_path_factory.mktemp("index_merge"))
    paths = build_segments(spark, documents, "doc_id", "text", out, num_segments=8)

    def termstats():
        return {os.path.relpath(os.path.join(d, f), paths.termstats):
                open(os.path.join(d, f), "rb").read()
                for d, _, fs in os.walk(paths.termstats) for f in fs}

    stats0, ts0 = load_stats(paths), termstats()
    merge_segments(spark, paths, fanin=4)
    segs = spark.read.parquet(paths.segments)
    assert segs.select("seg_id").distinct().count() == 2
    stats1 = load_stats(paths)
    assert stats1.pop("live_segments") != stats0.pop("live_segments")
    assert stats1 == stats0
    assert termstats() == ts0
    oracle = OracleIndex(docs_dict)
    for terms, mode in [(["customer", "window"], "or"), (["the", "vector"], "and")]:
        got = bm25_topk_wand(spark, paths, terms, 15, mode).collect()
        want = oracle.topk(terms, 15, mode)
        assert [int(r["doc_id"]) for r in got] == [d for d, _ in want]
        for r, (_, s) in zip(got, want):
            assert math.isclose(r["score"], s, rel_tol=1e-6)


def test_outlier_store_merge(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("results") / "outliers.parquet")
    store = OutlierStore(spark, path)
    ts = dt.datetime(2024, 1, 2)
    rows = [("d1", "m1", "terms", "r", "s", "{}", ts),
            ("d2", "m1", "terms", "r", "s", "{}", ts)]
    df = spark.createDataFrame(
        rows,
        "doc_key string, model_name string, model_type string, reason string,"
        " summary string, observations string, detected_ts timestamp",
    )
    assert store.upsert(df) == 2
    assert store.upsert(df) == 0  # idempotent
    rows2 = [("d2", "m2", "terms", "r", "s", "{}", ts)]
    df2 = spark.createDataFrame(rows2, df.schema)
    assert store.upsert(df2) == 1
    assert store.read().count() == 3

    store.wipe_model("m1")
    assert store.read().count() == 1
    store.housekeep_whitelist(spark.createDataFrame([("d2",)], "doc_key string"))
    assert store.read().count() == 0


def test_upsert_writes_one_file(spark, tmp_path):
    """A small upsert is one materialized frame that AQE coalesces: each
    call appends one part file, and ``last_inserted`` holds its per-model
    counts."""
    ts = dt.datetime(2024, 1, 2)
    schema = ("doc_key string, model_name string, model_type string, "
              "reason string, summary string, observations string, "
              "detected_ts timestamp")

    def batch(lo, hi):
        return spark.createDataFrame(
            [(f"d{i}", f"m{i % 3}", "terms", "r", "s", "{}", ts)
             for i in range(lo, hi)], schema)

    path = str(tmp_path / "outliers.parquet")
    store = OutlierStore(spark, path)

    def parts():
        return [f for f in os.listdir(path) if f.startswith("part-")]

    assert store.upsert(batch(0, 40)) == 40
    assert len(parts()) == 1
    assert store.last_inserted == {"m0": 14, "m1": 13, "m2": 13}
    assert store.upsert(batch(20, 60)) == 20
    assert len(parts()) == 2
    assert store.last_inserted == {"m0": 6, "m1": 7, "m2": 7}
    assert store.upsert(batch(0, 60)) == 0
    assert store.last_inserted == {}
    assert len(parts()) == 2


def test_merge_tier_touches_only_the_tier(spark, documents, tmp_path):
    """LSM tiering: a merge call reads/writes O(tier), not O(index) — the
    files of non-tier segments are bit-identical afterwards (same inode
    content), only the tier's directories disappear and one new segment
    appears; a second call picks a new tier and leaves the rest alone."""
    import os

    from ee_outliers_spark.index.build import build_segments, load_stats
    from ee_outliers_spark.index.merge import merge_tier
    from ee_outliers_spark.index.query import bm25_topk_wand

    out = str(tmp_path / "idx")
    p = build_segments(spark, documents, "doc_id", "text", out, num_segments=8)

    def snapshot():
        snap = {}
        for d in os.listdir(p.segments):
            if not d.startswith("seg_id="):
                continue
            files = {}
            full = os.path.join(p.segments, d)
            for f in sorted(os.listdir(full)):
                st = os.stat(os.path.join(full, f))
                files[f] = (st.st_size, st.st_mtime_ns)
            snap[int(d.split("=")[1])] = files
        return snap

    before = snapshot()
    live0 = load_stats(p)["live_segments"]
    new1 = merge_tier(spark, p, fanin=4)
    after = snapshot()
    merged1 = set(before) - set(after)
    assert len(merged1) == 4 and new1 in after
    # every surviving pre-merge segment is byte-identical (size+mtime)
    for s in set(before) & set(after):
        assert before[s] == after[s], s
    live1 = load_stats(p)["live_segments"]
    assert sorted(live1) == sorted((set(live0) - merged1) | {new1})

    # second call: a new tier (the remaining small segs), rest untouched
    new2 = merge_tier(spark, p, fanin=4)
    after2 = snapshot()
    for s in set(after) & set(after2):
        assert after[s] == after2[s], s
    assert new2 in after2

    # queries still exact after two tier merges
    from ee_outliers_spark.oracle import OracleIndex
    docs = {int(r["doc_id"]): r["text"]
            for r in documents.select("doc_id", "text").collect()}
    oracle = OracleIndex(docs)
    got = [(int(r["doc_id"]), float(r["score"])) for r in
           bm25_topk_wand(spark, p, ["customer", "window"], 10, "or").collect()]
    want = oracle.topk(["customer", "window"], 10, "or")
    assert [g[0] for g in got] == [w[0] for w in want]
