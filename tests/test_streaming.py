"""Incremental index maintenance: append_segments keeps rank-identity as the
corpus (and avgdl) drifts; catch_up indexes exactly the table files the
index has not recorded, so the CLI never answers from a stale index."""

import math
import os

import pytest
from pyspark.sql import functions as F

from ee_outliers_spark.index.build import build_segments
from ee_outliers_spark.index.query import bm25_topk_wand
from ee_outliers_spark.oracle import OracleIndex
from ee_outliers_spark.streaming.daemon import append_segments, catch_up


def _check(spark, paths, docs_dict, terms, mode="or", k=15):
    oracle = OracleIndex(docs_dict)
    got = bm25_topk_wand(spark, paths, terms, k, mode).collect()
    want = oracle.topk(terms, k, mode)
    assert [int(r["doc_id"]) for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-6)


def test_append_preserves_rank_identity(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index_incr"))
    first = documents.where(F.col("doc_id") < 250)
    second = documents.where(F.col("doc_id") >= 250)
    paths = build_segments(spark, first, "doc_id", "text", out, num_segments=4)
    new_ids = append_segments(spark, second, paths, num_segments=4)
    assert new_ids and min(new_ids) >= 4
    full = {int(r["doc_id"]): r["text"]
            for r in documents.select("doc_id", "text").collect()}
    _check(spark, paths, full, ["customer", "window"], "or")
    _check(spark, paths, full, ["the", "vector"], "and")


def test_catch_up_indexes_each_table_file_once(spark, documents,
                                              tmp_path_factory):
    """catch_up appends the table's unrecorded files; a second call with no
    new file appends no segment and writes no manifest line."""
    root = tmp_path_factory.mktemp("catch_up")
    table = str(root / "documents.parquet")
    first = documents.where(F.col("doc_id") < 250)
    second = documents.where(F.col("doc_id") >= 250)
    first.coalesce(1).write.parquet(table)
    paths = build_segments(spark, spark.read.parquet(table), "doc_id", "text",
                           str(root / "index"), num_segments=4)
    second.coalesce(1).write.mode("append").parquet(table)

    assert catch_up(spark, spark.read.parquet(table), paths)
    manifest = open(paths.manifest).read()
    seg_dirs = os.listdir(paths.segments)
    assert catch_up(spark, spark.read.parquet(table), paths) == []
    assert open(paths.manifest).read() == manifest
    assert os.listdir(paths.segments) == seg_dirs

    full = {int(r["doc_id"]): r["text"]
            for r in documents.select("doc_id", "text").collect()}
    _check(spark, paths, full, ["customer", "window"], "or")

    # the index covers each doc exactly once (no duplicate ingestion):
    # doclen sidecar rows sum to the corpus size
    segs = spark.read.parquet(paths.segments)
    n = segs.where(F.col("term").isNull()).agg(F.sum("n_docs")).collect()[0][0]
    assert n == len(full)


def test_catch_up_refuses_an_index_without_lineage(spark, documents,
                                                   tmp_path_factory):
    """An index built from an in-memory frame records no source file, so
    catch_up cannot tell which table rows it lacks and says so."""
    root = tmp_path_factory.mktemp("no_lineage")
    rows = [(int(r["doc_id"]), r["text"]) for r in
            documents.select("doc_id", "text").limit(20).collect()]
    paths = build_segments(
        spark, spark.createDataFrame(rows, "doc_id long, text string"),
        "doc_id", "text", str(root / "index"), num_segments=2)
    with pytest.raises(ValueError, match="records no source file"):
        catch_up(spark, documents, paths)


def test_stream_ingest_auto_compacts_to_policy_bound(
        spark, documents, tmp_path_factory):
    """Long-running ingest with the merge POLICY on: N appended batches end
    with ≤ max_live_segments live segments, queries stay rank-identical to
    the oracle over the full corpus, and non-tier segment files are
    byte-identical across the compaction (only tiers were rewritten)."""
    import os as _os

    from ee_outliers_spark.index.build import load_stats
    from ee_outliers_spark.index.merge import compact_if_needed

    out = str(tmp_path_factory.mktemp("stream_compact") / "index")

    parts = [documents.where((F.col("doc_id") % 5) == i) for i in range(5)]
    paths = build_segments(spark, parts[0], "doc_id", "text", out,
                           num_segments=4)
    max_live = 6

    def seg_snapshot():
        snap = {}
        for d in _os.listdir(paths.segments):
            if d.startswith("seg_id="):
                full = _os.path.join(paths.segments, d)
                snap[int(d.split("=")[1])] = {
                    f: (_os.stat(_os.path.join(full, f)).st_size,
                        _os.stat(_os.path.join(full, f)).st_mtime_ns)
                    for f in sorted(_os.listdir(full))}
        return snap

    snaps = []
    for i, batch in enumerate(parts[1:]):
        append_segments(spark, batch, paths, num_segments=4)
        compact_if_needed(spark, paths, max_live=max_live, fanin=4)
        live = load_stats(paths)["live_segments"]
        assert len(live) <= max_live, (i, live)
        snaps.append(seg_snapshot())

    # only tiers were rewritten: any segment present in two consecutive
    # snapshots has byte-identical files (size + mtime_ns)
    for a, b in zip(snaps, snaps[1:]):
        for s in set(a) & set(b):
            assert a[s] == b[s], s

    full = {int(r["doc_id"]): r["text"]
            for r in documents.select("doc_id", "text").collect()}
    _check(spark, paths, full, ["customer", "window"], "or")
    _check(spark, paths, full, ["the", "vector"], "and")
    # every doc indexed exactly once across appends + merges
    segs = spark.read.parquet(paths.segments).where(
        F.col("seg_id").isin([int(s) for s in
                              load_stats(paths)["live_segments"]]))
    n = segs.where(F.col("term").isNull()).agg(F.sum("n_docs")).collect()[0][0]
    assert n == len(full)


_CASES = """
[simplequery_customer]
es_query_filter=customer

[simplequery_not_customer]
es_query_filter=NOT customer
"""


def _per_model(summary):
    return {m["model"]: m["total_outliers"]
            for m in summary["most_time_consuming_use_cases_top10"]}


def _cli_table(documents, root):
    """A documents.parquet dir holding docs < 250, the use-case file, and a
    function that appends docs >= 250 as a new part file."""
    data = root / "data"
    table = str(data / "documents.parquet")
    documents.where(F.col("doc_id") < 250).coalesce(1).write.parquet(table)
    cases = root / "cases.conf"
    cases.write_text(_CASES)

    def append_rest():
        documents.where(F.col("doc_id") >= 250).coalesce(1).write.mode(
            "append").parquet(table)

    return ["--use-cases", str(cases), "--data", str(data)], append_rest


def test_cli_interactive_index_sees_appended_files(
        spark, documents, tmp_path_factory):
    """Two `interactive` runs with the same --index over a growing table
    (the reference daemon reads a growing ES corpus, app/outliers.py:
    103-198): after a part file lands between the runs, the second run
    flags exactly what the no-index path flags — text atoms match the new
    rows, and NOT filters no longer match them for lacking markers."""
    from ee_outliers_spark.__main__ import main

    root = tmp_path_factory.mktemp("cli_interactive")
    common, append_rest = _cli_table(documents, root)
    index = ["--index", str(root / "index")]
    first = _per_model(main(["interactive", *common, *index], spark=spark))
    append_rest()
    second = _per_model(main(["interactive", *common, *index], spark=spark))
    want = _per_model(main(["interactive", *common], spark=spark))
    assert second == want
    assert want["simplequery_customer"] > first["simplequery_customer"]


def test_cli_daemon_index_sees_files_appended_between_ticks(
        spark, documents, tmp_path_factory, monkeypatch):
    """`daemon --max-ticks 2` over a table that grows before the second
    tick: the index catches up before the tick, so the results store ends
    with the no-index path's outliers."""
    import threading
    import time

    from ee_outliers_spark.__main__ import main
    from ee_outliers_spark.sources.results import OutlierStore

    root = tmp_path_factory.mktemp("cli_daemon")
    common, append_rest = _cli_table(documents, root)
    real_sleep, waits = time.sleep, []

    def sleep(secs):
        if threading.current_thread() is not threading.main_thread():
            return real_sleep(secs)
        waits.append(secs)
        if len(waits) == 2:  # the daemon's wait before its second tick
            append_rest()

    monkeypatch.setattr(time, "sleep", sleep)
    store = str(root / "store")
    main(["daemon", *common, "--index", str(root / "index"),
          "--results", store, "--schedule", "* * * * *", "--max-ticks", "2"],
         spark=spark)
    monkeypatch.setattr(time, "sleep", real_sleep)
    assert len(waits) == 2
    got = {r["model_name"]: r["count"] for r in
           OutlierStore(spark, store).read().groupBy("model_name").count()
           .collect()}
    assert got == _per_model(main(["interactive", *common], spark=spark))


@pytest.mark.parametrize("driver_merge", [True, False])
def test_incremental_append_refresh_matches_full_recompute(
        spark, documents, tmp_path_factory, monkeypatch, driver_merge):
    """The O(batch)+O(vocab) append fold must be value-identical to the full
    all-segments refresh — through BOTH termstats-merge arms (driver-side
    pyarrow fold for provably-small batches; distributed union-aggregate
    otherwise): stats.json (incl. exact sum_dl totals and per-field stats)
    and every termstats df row."""
    import json

    from ee_outliers_spark.index import build as B

    if not driver_merge:
        # force the distributed union-aggregate arm
        monkeypatch.setattr(B, "DRIVER_MERGE_MAX_TERMS", 0)

    out = str(tmp_path_factory.mktemp(
        f"index_incr_fold_{int(driver_merge)}"))
    first = documents.where(F.col("doc_id") < 300)
    second = documents.where(F.col("doc_id") >= 300)
    paths = build_segments(spark, first, "doc_id", "text", out,
                           num_segments=4, analyzed_fields=["lang"])
    append_segments(spark, second, paths, num_segments=2)

    incr_stats = json.load(open(paths.stats))
    incr_ts = {r["term"]: int(r["df"])
               for r in spark.read.parquet(paths.termstats).collect()}
    # exact totals present for the NEXT append's fold
    assert "sum_dl" in incr_stats
    assert all("sum_dl" in v for v in incr_stats["field_stats"].values())

    B.refresh_stats_and_termstats(spark, paths)  # full recompute, same live
    full_stats = json.load(open(paths.stats))
    full_ts = {r["term"]: int(r["df"])
               for r in spark.read.parquet(paths.termstats).collect()}
    assert incr_stats == full_stats
    assert incr_ts == full_ts
