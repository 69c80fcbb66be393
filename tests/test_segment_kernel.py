"""Edge cases of the query-side segment reader (``build.run_segment_kernel``)
and the one-commit-snapshot rule: live segments without a directory, segment
files written before ``block_pos_ends`` existed, an empty live list, a
one-document index, and exactly one ``load_stats`` per public query call."""

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ee_outliers_spark.index import build, filter as ifilter, query
from ee_outliers_spark.index.build import (
    IndexPaths, build_segments, load_stats, segment_dir_ids,
)
from ee_outliers_spark.index.filter import indexed_filter, matching_ids
from ee_outliers_spark.index.query import (
    bm25_topk_wand, doclen_df, phrase_topk_wand, querystring_topk,
    search_topk,
)
from ee_outliers_spark.oracle import OracleIndex
from ee_outliers_spark.queryparser import parse_query_string
from ee_outliers_spark.tokenizer import tokenize_py

K = 10
COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _ranked(df):
    return [(int(r["doc_id"]), round(float(r["score"]), 9))
            for r in df.collect()]


def _ids(df):
    return sorted(int(r["doc_id"]) for r in df.collect())


@pytest.fixture(scope="module")
def pos_paths(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("seg_kernel_pos"))
    return build_segments(spark, documents, "doc_id", "text", out,
                          num_segments=4, positions=True)


def test_live_segment_without_directory_reads_empty(
        spark, documents, docs_dict, tmp_path_factory):
    """Four segments over the even doc ids write no ``seg_id=1`` or
    ``seg_id=3`` directory, yet both stay live: every query kernel reads
    them as empty and answers like the oracle."""
    out = str(tmp_path_factory.mktemp("seg_kernel_sparse"))
    paths = build_segments(spark, documents.where(F.col("doc_id") % 2 == 0),
                           "doc_id", "text", out, num_segments=4,
                           positions=True)
    assert load_stats(paths)["live_segments"] == [0, 1, 2, 3]
    assert segment_dir_ids(paths) == [0, 2]
    even = {d: t for d, t in docs_dict.items() if d % 2 == 0}
    oracle = OracleIndex(even)
    got = bm25_topk_wand(spark, paths, ["customer", "window"], K).collect()
    assert [int(r["doc_id"]) for r in got] == [
        d for d, _ in oracle.topk(["customer", "window"], K, "or")]
    got = phrase_topk_wand(spark, paths, "key order", K).collect()
    assert [int(r["doc_id"]) for r in got] == [
        d for d, _ in oracle.phrase_topk(tokenize_py("key order"), K)]
    assert _ids(matching_ids(spark, paths, parse_query_string(
        "NOT window"))) == sorted(
        d for d, t in even.items() if "window" not in tokenize_py(t))
    assert _ids(doclen_df(spark, paths)) == sorted(even)


def test_segments_without_block_pos_ends_answer_the_same(
        spark, documents, pos_paths, tmp_path_factory):
    """A segment file written before the ``block_pos_ends`` column existed
    reads that column as null, and phrases fall back to a full position
    decode: same scores, ids and counts as the current format."""
    old = IndexPaths(str(tmp_path_factory.mktemp("seg_kernel_old")))
    shutil.copytree(pos_paths.root, old.root, dirs_exist_ok=True)
    rewritten = 0
    for dp, _, files in os.walk(old.segments):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dp, f)
                t = pq.read_table(p)
                assert "block_pos_ends" in t.column_names
                pq.write_table(t.drop_columns(["block_pos_ends"]), p)
                rewritten += 1
    assert rewritten
    node = parse_query_string('"key order" OR (batch AND "the key"~1)')
    for a, b in [
        (phrase_topk_wand(spark, pos_paths, "key order", K),
         phrase_topk_wand(spark, old, "key order", K)),
        (querystring_topk(spark, pos_paths, 'customer "key order"~2', K),
         querystring_topk(spark, old, 'customer "key order"~2', K)),
    ]:
        want = _ranked(a)
        assert want and _ranked(b) == want
    want = _ids(matching_ids(spark, pos_paths, node))
    assert want and _ids(matching_ids(spark, old, node)) == want
    filtered = [indexed_filter(spark, p, documents, "doc_id", "text",
                               parse_query_string(
                                   '"key order" AND _exists_:lang'), COLS)
                .select("doc_id") for p in (pos_paths, old)]
    assert _ids(filtered[1]) == _ids(filtered[0])


def test_empty_live_list_answers_empty(spark, documents, pos_paths,
                                       tmp_path_factory):
    """A commit whose live list is empty answers every query shape with
    no rows and no error."""
    empty = IndexPaths(str(tmp_path_factory.mktemp("seg_kernel_empty")))
    shutil.copytree(pos_paths.root, empty.root, dirs_exist_ok=True)
    stats = load_stats(empty)
    stats["live_segments"] = []
    with open(empty.stats, "w") as fh:
        json.dump(stats, fh)
    assert bm25_topk_wand(spark, empty, ["customer"], K).count() == 0
    assert phrase_topk_wand(spark, empty, "key order", K).count() == 0
    assert querystring_topk(spark, empty, "cust* OR \"key order\"",
                            K).count() == 0
    assert matching_ids(spark, empty, parse_query_string(
        "NOT window")).count() == 0
    assert matching_ids(spark, empty, parse_query_string("customer"),
                        count_only=True).count() == 0
    assert search_topk(spark, empty, documents, "doc_id", "text",
                       "customer AND _exists_:lang", K, COLS).count() == 0
    assert doclen_df(spark, empty).count() == 0


def test_one_document_index(spark, tmp_path_factory):
    """A one-document index answers terms, phrases, negation, counts and
    doc lengths correctly."""
    docs = spark.createDataFrame(
        [(7, "the key order of the key order", "en")],
        "doc_id long, text string, lang string")
    paths = build_segments(spark, docs, "doc_id", "text",
                           str(tmp_path_factory.mktemp("seg_kernel_one")),
                           num_segments=None, positions=True)
    oracle = OracleIndex({7: "the key order of the key order"})
    got = bm25_topk_wand(spark, paths, ["key", "nosuch"], K).collect()
    want = oracle.topk(["key", "nosuch"], K, "or")
    assert [(int(r["doc_id"]), pytest.approx(float(r["score"])))
            for r in got] == [(d, pytest.approx(s)) for d, s in want]
    assert [int(r["doc_id"]) for r in
            phrase_topk_wand(spark, paths, "key order", K).collect()] == [7]
    assert _ids(matching_ids(spark, paths,
                             parse_query_string("NOT nosuch"))) == [7]
    assert _ids(matching_ids(spark, paths,
                             parse_query_string("NOT key"))) == []
    assert [int(r["cnt"]) for r in matching_ids(
        spark, paths, parse_query_string('"key order"'),
        count_only=True).collect()] == [1]
    assert [(int(r["doc_id"]), int(r["dl"]))
            for r in doclen_df(spark, paths).collect()] == [(7, 7)]


def test_each_public_call_reads_the_commit_once(spark, documents, pos_paths,
                                                monkeypatch):
    """Every public query or filter call reads stats.json exactly once and
    hands that snapshot to every kernel it runs."""
    calls = []

    def counting(paths):
        calls.append(paths.root)
        return load_stats(paths)

    for mod in (build, query, ifilter):
        if hasattr(mod, "load_stats"):
            monkeypatch.setattr(mod, "load_stats", counting)
    cases = {
        "bm25_topk_wand": lambda: bm25_topk_wand(
            spark, pos_paths, ["customer", "window"], K),
        "phrase_topk_wand": lambda: phrase_topk_wand(
            spark, pos_paths, "key order", K),
        "phrase_topk_wand one token": lambda: phrase_topk_wand(
            spark, pos_paths, "customer", K),
        "querystring_topk": lambda: querystring_topk(
            spark, pos_paths, 'cust* OR "key order"~1', K),
        "search_topk text-only": lambda: search_topk(
            spark, pos_paths, documents, "doc_id", "text",
            'window AND NOT "key order"', K, COLS),
        "search_topk mixed": lambda: search_topk(
            spark, pos_paths, documents, "doc_id", "text",
            'customer "key order" AND _exists_:lang', K, COLS),
        "matching_ids": lambda: matching_ids(
            spark, pos_paths, parse_query_string("window OR cust*"),
            count_only=True),
        "indexed_filter text-only": lambda: indexed_filter(
            spark, pos_paths, documents, "doc_id", "text",
            parse_query_string('"key order"'), COLS),
        "indexed_filter mixed": lambda: indexed_filter(
            spark, pos_paths, documents, "doc_id", "text",
            parse_query_string("window AND cust* AND _exists_:lang"), COLS),
    }
    for name, call in cases.items():
        calls.clear()
        call().collect()
        assert len(calls) == 1, (name, len(calls))
