"""Rank-identity of the distributed BM25 scorers vs the pure-Python oracle
(SURVEY §7.1 steps 2/4/5): the compressed SPIMI segment + block-max kernel
behind bm25_topk_wand / querystring_topk / search_topk, and phrase scoring.
Ranks exact; scores to 1e-6."""

import math
import os

import pytest

from ee_outliers_spark.index.build import build_segments
from ee_outliers_spark.index.query import bm25_topk_wand
from ee_outliers_spark.oracle import OracleIndex

K = 20

TERM_SETS = [
    (["vector"], "or"),
    (["the"], "or"),                      # head term
    (["vector", "zebra"], "or"),          # rare + missing
    (["customer", "window", "batch"], "or"),
    (["customer", "window", "batch"], "and"),
    (["the", "vector"], "and"),           # head + rare conjunction (WAND path)
    (["nosuchterm"], "or"),
    (["the", "nosuchterm"], "and"),       # conjunction w/ zero-df term → empty
]


@pytest.fixture(scope="module")
def oracle(docs_dict):
    return OracleIndex(docs_dict)


@pytest.fixture(scope="module")
def seg_paths(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    return build_segments(spark, documents, "doc_id", "text", out, num_segments=8)


def _check(got_rows, expected):
    got = [(int(r["doc_id"]), float(r["score"])) for r in got_rows]
    assert [g[0] for g in got] == [e[0] for e in expected], "rank mismatch"
    for (gd, gs), (ed, es) in zip(got, expected):
        assert math.isclose(gs, es, rel_tol=1e-6, abs_tol=1e-9), (gd, gs, es)


@pytest.mark.parametrize("terms,mode", TERM_SETS)
def test_wand_path_rank_identity(terms, mode, spark, seg_paths, oracle):
    got = bm25_topk_wand(spark, seg_paths, terms, K, mode).collect()
    _check(got, oracle.topk(terms, K, mode))


@pytest.fixture(scope="module")
def pos_paths(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index_pos"))
    return build_segments(spark, documents, "doc_id", "text", out,
                          num_segments=8, positions=True)


@pytest.mark.parametrize("phrase", [
    "key order", "batch batch", "no such phrase here", "vector"])
def test_phrase_wand_rank_identity(phrase, spark, pos_paths, oracle):
    """Index-backed phrase path (positional postings) ≡ the full-corpus
    re-tokenize oracle, including duplicate-token phrases, single-token
    degeneration, and the empty phrase."""
    from ee_outliers_spark.index.query import phrase_topk_wand
    from ee_outliers_spark.tokenizer import tokenize_py

    got = phrase_topk_wand(spark, pos_paths, phrase, K).collect()
    _check(got, oracle.phrase_topk(tokenize_py(phrase), K))


@pytest.mark.parametrize("k", [1, 3, 7, 40, 200])
def test_phrase_topk_one_job_keeps_segment_ties(k, spark, tmp_path_factory):
    """A phrase top-k runs one Spark job, and each segment's candidate cut
    keeps every doc tied with its k-th: 120 docs over 4 segments where
    most phrase matches share one score, so the answer is decided by doc id
    across segments."""
    from ee_outliers_spark.index.query import phrase_topk_wand
    from ee_outliers_spark.tokenizer import tokenize_py

    texts = {}
    for d in range(120):
        if d % 11 == 0:
            texts[d] = "red fox red fox runs"
        elif d % 3:
            texts[d] = "red fox jumps over it"
        else:
            texts[d] = "a grey wolf sleeps here"
    docs = spark.createDataFrame(sorted(texts.items()),
                                 "doc_id long, text string")
    paths = build_segments(spark, docs, "doc_id", "text",
                           str(tmp_path_factory.mktemp("phrase_ties")),
                           num_segments=4, positions=True)
    sc = spark.sparkContext
    group = f"phrase-topk-{k}"
    sc.setJobGroup(group, group)
    try:
        got = phrase_topk_wand(spark, paths, "red fox", k).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    _check(got, OracleIndex(texts).phrase_topk(tokenize_py("red fox"), k))


def test_phrase_wand_requires_positions(spark, seg_paths):
    from ee_outliers_spark.index.query import phrase_topk_wand

    with pytest.raises(ValueError, match="positional"):
        phrase_topk_wand(spark, seg_paths, "key order", K)


def test_phrase_wand_empty_phrase_matches_nothing(spark, pos_paths):
    """Lucene semantics: an empty/all-separator phrase is MatchNoDocs."""
    from ee_outliers_spark.index.query import phrase_topk_wand

    assert phrase_topk_wand(spark, pos_paths, "", K).count() == 0
    assert phrase_topk_wand(spark, pos_paths, "--- !!", K).count() == 0


def test_empty_answers_collect_without_a_job(spark, pos_paths, oracle,
                                             tmp_path):
    """An empty answer is a local relation: collecting it runs no Spark job
    (a parallelized empty list ran one Python task per core)."""
    from ee_outliers_spark.index.query import (
        phrase_topk_wand, querystring_topk,
    )
    from ee_outliers_spark.sources.results import OutlierStore

    adjacent = {pair for toks in oracle.toks.values()
                for pair in zip(toks, toks[1:])}
    vocab = sorted(oracle.tf)[:50]
    a, b = next((a, b) for a in vocab for b in vocab
                if (a, b) not in adjacent)
    assert oracle.phrase_topk([a, b], K) == []
    answers = {
        "and-zero-df": bm25_topk_wand(spark, pos_paths, ["the", "nosuchterm"],
                                      K, "and"),
        "phrase-no-hits": phrase_topk_wand(spark, pos_paths, f"{a} {b}", K),
        "qs-no-known-term": querystring_topk(spark, pos_paths,
                                             "nosuchterm OR zzqqxx", K),
        "missing-store": OutlierStore(spark, str(tmp_path / "none")).read(),
    }
    sc = spark.sparkContext
    for what, df in answers.items():
        group = f"empty-answer-{what}"
        sc.setJobGroup(group, group)
        try:
            rows = df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert rows == [], what
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], what

    # on an index with no live segment, a phrase whose tokens are in the
    # dictionary answers without running the empty kernel frame: neither
    # the call nor the collect runs a job
    from ee_outliers_spark.index.build import commit_stats, load_stats

    docs = spark.createDataFrame([(1, "red fox runs"), (2, "red fox")],
                                 "doc_id long, text string")
    dead = build_segments(spark, docs, "doc_id", "text",
                          str(tmp_path / "no_live"), num_segments=2,
                          positions=True)
    commit_stats(dead, {**load_stats(dead), "live_segments": []})
    group = "empty-answer-no-live-segment"
    sc.setJobGroup(group, group)
    try:
        rows = phrase_topk_wand(spark, dead, "red fox", K).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows == []
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_phrase_wand_survives_append_and_tier_merge(
        spark, documents, tmp_path_factory, oracle):
    """Positions flow through incremental appends and LSM tier merges:
    build half, append half, tier-merge, and the phrase ranks still equal
    the whole-corpus oracle."""
    from pyspark.sql import functions as F

    from ee_outliers_spark.index.merge import merge_tier
    from ee_outliers_spark.index.query import phrase_topk_wand
    from ee_outliers_spark.streaming.daemon import append_segments
    from ee_outliers_spark.tokenizer import tokenize_py

    out = str(tmp_path_factory.mktemp("index_pos_inc"))
    p = build_segments(spark, documents.where(F.col("doc_id") % 2 == 0),
                       "doc_id", "text", out, num_segments=4, positions=True)
    append_segments(spark, documents.where(F.col("doc_id") % 2 == 1),
                    p, num_segments=4)
    merge_tier(spark, p, fanin=4)
    got = phrase_topk_wand(spark, p, "key order", K).collect()
    _check(got, oracle.phrase_topk(tokenize_py("key order"), K))
    # WAND term queries agree too (live-segment commit point is consistent)
    got2 = bm25_topk_wand(spark, p, ["customer", "window"], K, "or").collect()
    _check(got2, oracle.topk(["customer", "window"], K, "or"))


def test_wand_multiblock_tied_pivot(spark, tmp_path_factory):
    """Regression: with >128 postings per list (multiple blocks, so block_ub
    < max_score) and cursors TIED on the pivot doc, the block-max upper bound
    must include every tied cursor — the round-1 code summed live[:pivot_i+1]
    only and silently dropped true top-k docs once the heap filled."""
    rows = []
    # 300 docs all containing alpha+beta+gamma (3 cursors, lists >2 blocks,
    # always tied on the pivot); tf/dl patterns make late docs the winners.
    for d in range(300):
        boost = 6 if d % 97 == 5 else 1
        text = " ".join(
            ["alpha"] * boost + ["beta"] * (1 + d % 3) + ["gamma"]
            + ["filler%d" % (d % 7)] * (d % 11)
        )
        rows.append((d, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("index_tied"))
    p = build_segments(spark, docs, "doc_id", "text", out, num_segments=1)
    oracle = OracleIndex({d: t for d, t in rows})
    for k in (1, 3, 10):
        got = bm25_topk_wand(spark, p, ["alpha", "beta", "gamma"], k, "or").collect()
        _check(got, oracle.topk(["alpha", "beta", "gamma"], k, "or"))


def test_indexed_filter_matches_predicate_and_avoids_regex(
        spark, documents, seg_paths):
    """Filter context through the posting-list marker kernel: same rows as
    the regex compilation, and the physical plan contains NO rlike over the
    text column for single-token terms (VERDICT round-1 'what's wrong' #3).
    On this non-positional index a phrase compiles to the regex predicate,
    over the docs of its first token's postings (the required atom)."""
    from ee_outliers_spark.index.filter import indexed_filter
    from ee_outliers_spark.queryparser import parse_query_string, to_spark_predicate

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    node = parse_query_string("window AND customer AND _exists_:lang")
    want = sorted(r["doc_id"] for r in documents.where(
        to_spark_predicate(node, "text", cols)).select("doc_id").collect())
    out = indexed_filter(spark, seg_paths, documents, "doc_id", "text",
                         node, cols)
    got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert got == want and got
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rlike" not in plan.lower()
    # negated terms compose (marker truth value under NOT); the phrase is a
    # regex predicate over the docs its required token's postings give
    for qs in ["window NOT customer", '"key order" AND lang:en']:
        node2 = parse_query_string(qs)
        want2 = sorted(r["doc_id"] for r in documents.where(
            to_spark_predicate(node2, "text", cols)).select("doc_id").collect())
        got2 = sorted(r["doc_id"] for r in indexed_filter(
            spark, seg_paths, documents, "doc_id", "text", node2, cols
        ).select("doc_id").collect())
        assert got2 == want2 and got2, qs


def test_matching_ids_postings_only(spark, documents, pos_paths):
    """Text-only booleans resolve ENTIRELY off the index (matching_ids —
    the ES _count / filter-context fast path): same doc set as the regex
    compilation over the corpus across atom shapes, including the
    no-positive-guarantee case (top-level NOT / match-all) that needs the
    doclen-sidecar universe instead of the docs table."""
    from ee_outliers_spark.index.filter import matching_ids, text_only
    from ee_outliers_spark.queryparser import (
        parse_query_string, to_spark_predicate,
    )

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    for qs in [
        'window AND (cust* OR batch) AND NOT "batch batch"',
        "NOT window",                       # universe path (no guarantee)
        'custoner~1 OR "order key"~2',
        "*",                                # match_all → whole universe
        'window NOT (customer OR "key order")',
        "nosuchterm",                       # nothing matches
        "NOT batch AND NOT window",         # pure-negative conjunction
        'batch OR NOT "key order"',         # Not under Or (universe path)
        'batch AND "key order"',            # phrase restricted by sibling
        'batch AND NOT "key order"~1',      # subtracted sloppy phrase
        '(window OR batch) AND NOT (cust* AND NOT batch)',  # nested Not
    ]:
        node = parse_query_string(qs)
        assert text_only(node, positional=True), qs
        want = sorted(r["doc_id"] for r in documents.where(
            to_spark_predicate(node, "text", cols)
        ).select("doc_id").collect())
        got = sorted(r["doc_id"] for r in
                     matching_ids(spark, pos_paths, node).collect())
        assert got == want, qs
    # field/range/exists atoms are NOT decidable from postings
    for qs in ["window AND lang:en", "n_chars:[10 TO 200]",
               "_exists_:source"]:
        assert not text_only(parse_query_string(qs), positional=True), qs
    # the doclen-sidecar universe is read only when NOT/match-all needs it
    # — a positive-only boolean's segment read has no `term IS NULL` leg
    from ee_outliers_spark.index.filter import _sets_read

    pos_read = _sets_read(parse_query_string("window AND cust*"), True,
                          "ids", None, ["customer"])
    assert not pos_read.sidecar
    assert set(pos_read.terms) == {"window", "customer"}
    assert _sets_read(parse_query_string("NOT window"), True, "ids", None,
                      []).sidecar
    # `X AND NOT Y` evaluates the NOT as subtraction from the positive
    # conjunction (Lucene ReqExcl) — no universe row in the read either
    req_excl = _sets_read(parse_query_string('window AND NOT "batch batch"'),
                          True, "ids", None, [])
    assert not req_excl.sidecar
    assert "pos_blob" in req_excl.columns


def test_matching_ids_agrees_on_full_query_corpus(spark, documents,
                                                  pos_paths):
    """4th-backend agreement: every TEXT-ONLY query in the parser test
    corpus (tests/test_queryparser.QUERIES — terms, phrases, slop,
    wildcards, fuzzy, negation, match-all, groups) produces the same doc
    set from the postings-only evaluator as from the Spark predicate
    compilation over raw text."""
    from test_queryparser import QUERIES

    from ee_outliers_spark.index.filter import matching_ids, text_only
    from ee_outliers_spark.queryparser import (
        parse_query_string, to_spark_predicate,
    )

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    covered = 0
    for q in QUERIES:
        node = parse_query_string(q)
        if not text_only(node, positional=True):
            continue
        covered += 1
        want = sorted(r["doc_id"] for r in documents.where(
            to_spark_predicate(node, "text", cols)
        ).select("doc_id").collect())
        got = sorted(r["doc_id"] for r in
                     matching_ids(spark, pos_paths, node).collect())
        assert got == want, q
    assert covered >= 12  # the corpus carries a real text-only spread


def test_matching_ids_randomized_booleans(spark, documents, pos_paths,
                                          seg_paths):
    """Seeded random boolean ASTs (terms / wildcards / regexps / fuzzies /
    phrases / field, range and exists atoms under nested And/Or/Not) stress
    the per-segment posting-list kernel beyond the hand-written corpus:
    text-only ASTs go through matching_ids' set algebra, mixed ones through
    indexed_filter's markers on the positional index and, phrase-free, on
    the non-positional one too. Results must equal the pure Python
    compilation of the same AST over the raw rows."""
    import random

    from ee_outliers_spark.index.filter import (
        indexed_filter, matching_ids, text_only,
    )
    from ee_outliers_spark.queryparser import (
        And, Fuzzy, Not, Or, Phrase, Regexp, Term, Wildcard,
        parse_query_string, to_python_predicate,
    )

    rng = random.Random(20260817)
    vocab = ["the", "customer", "window", "batch", "key", "order", "fast",
             "slow", "vector", "stream", "zebraqq"]
    fields = [parse_query_string(q) for q in
              ("lang:en", "n_chars:[10 TO 200]", "_exists_:source")]

    def leaf():
        if rng.random() < 0.25:
            return rng.choice(fields)
        r = rng.random()
        t = rng.choice(vocab)
        if r < 0.4:
            return Term(t)
        if r < 0.55:
            return Wildcard(t[: rng.randint(1, 3)] + "*")
        if r < 0.7:
            return Regexp(t[:2] + "[a-z0-9]*")
        if r < 0.8:
            return Fuzzy(t, 1)
        t2 = rng.choice(vocab)
        return Phrase(f"{t} {t2}", slop=rng.choice([0, 0, 1, 2]))

    def gen(depth):
        if depth == 0 or rng.random() < 0.35:
            return leaf()
        kids = [gen(depth - 1) for _ in range(rng.randint(2, 3))]
        shape = rng.random()
        if shape < 0.45:
            return And(kids)
        if shape < 0.9:
            return Or(kids)
        return Not(gen(depth - 1))

    def has_phrase(n):
        if isinstance(n, Phrase):
            return True
        if isinstance(n, (And, Or)):
            return any(has_phrase(p) for p in n.parts)
        return isinstance(n, Not) and has_phrase(n.part)

    def filtered(paths, node):
        out = indexed_filter(spark, paths, documents, "doc_id", "text",
                             node, cols)
        return sorted(r["doc_id"] for r in out.select("doc_id").collect())

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    rows = [r.asDict() for r in documents.collect()]
    checked = {"text_only": 0, "mixed": 0, "mixed_seg": 0}
    for _ in range(50):
        node = gen(2)
        pred = to_python_predicate(node, "text", cols)
        want = sorted(r["doc_id"] for r in rows if pred(r))
        if text_only(node, positional=True):
            got = sorted(r["doc_id"] for r in
                         matching_ids(spark, pos_paths, node).collect())
            assert got == want, node
            checked["text_only"] += 1
            continue
        assert filtered(pos_paths, node) == want, node
        checked["mixed"] += 1
        if not has_phrase(node):
            assert filtered(seg_paths, node) == want, node
            checked["mixed_seg"] += 1
    assert checked == {"text_only": 23, "mixed": 27, "mixed_seg": 17}


def test_text_only_filter_never_reads_corpus_text(spark, sf_dir, pos_paths):
    """indexed_filter on a text-only boolean collapses to matching_ids + a
    left-semi join: the docs-side parquet scan reads ONLY the join key
    (column pruning visible in ReadSchema) — at 100 TB the corpus text is
    never touched by a filter/count query."""
    from ee_outliers_spark.index.filter import indexed_filter
    from ee_outliers_spark.queryparser import parse_query_string

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    node = parse_query_string('window AND (cust* OR batch)')
    out = indexed_filter(spark, pos_paths, docs, "doc_id", "text", node,
                         cols).select("doc_id")  # the count/ids query shape
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    import re
    doc_scans = [m for m in re.findall(r"ReadSchema: struct<[^>]*>", plan)
                 if "doc_blob" not in m]  # exclude index-segment scans
    assert doc_scans and all(
        "text" not in m for m in doc_scans), doc_scans


def test_wand_resume(spark, documents, tmp_path_factory, oracle):
    """Kill-and-resume: a build with half the segments done completes and
    answers identically (north_rule resumability)."""
    import json, os
    out = str(tmp_path_factory.mktemp("index_resume"))
    p = build_segments(spark, documents, "doc_id", "text", out, num_segments=4)
    # truncate manifest to 2 segments, delete their outputs' sibling dirs
    with open(p.manifest) as fh:
        recs = [json.loads(l) for l in fh]
    keep = {r["seg_id"] for r in recs[:2]}
    with open(p.manifest, "w") as fh:
        for r in recs[:2]:
            fh.write(json.dumps(r) + "\n")
    import shutil
    for d in os.listdir(p.segments):
        if d.startswith("seg_id=") and int(d.split("=")[1]) not in keep:
            shutil.rmtree(os.path.join(p.segments, d))
    p2 = build_segments(spark, documents, "doc_id", "text", out, num_segments=4)
    got = bm25_topk_wand(spark, p2, ["customer", "window"], K, "or").collect()
    _check(got, oracle.topk(["customer", "window"], K, "or"))


def test_vectorized_paths_match_wand_loop(spark, documents, tmp_path_factory):
    """Differential: the vectorized per-segment executors (single-term /
    conjunction / chunked block-max OR) produce exactly what the
    document-at-a-time WAND reference loop produces, on a one-segment index
    where per-segment results ARE the global results."""
    import json as _json

    import numpy as np

    from ee_outliers_spark.index.build import build_segments
    from ee_outliers_spark.index.codec import varbyte_decode
    from ee_outliers_spark.index.query import (
        _TermCursor, _and_segment, _idf, _or_segment, _single_term_segment,
        _wand_segment, block_upper_bound,
    )

    out = str(tmp_path_factory.mktemp("index_diff"))
    p = build_segments(spark, documents, "doc_id", "text", out, num_segments=1)
    with open(p.stats) as fh:
        stats = _json.load(fh)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    seg = spark.read.parquet(p.segments).collect()
    dl_row = next(r for r in seg if r["term"] is None)
    dl_docs = np.cumsum(varbyte_decode(bytes(dl_row["doc_blob"]))).astype(np.int64)
    dl_vals = varbyte_decode(bytes(dl_row["tf_blob"])).astype(np.int64)
    rows = {r["term"]: r for r in seg if r["term"] is not None}
    tstats = {t: len(varbyte_decode(bytes(r["doc_blob"]))) for t, r in rows.items()}

    def cursors(terms):
        out = []
        for t in terms:
            r = rows[t]
            idf = _idf(n_docs, tstats[t])
            bmax = block_upper_bound(
                r["block_max_tf"], r["block_min_dl"], avgdl) * idf
            out.append(_TermCursor(
                bytes(r["doc_blob"]), bytes(r["tf_blob"]),
                dl_docs, dl_vals, idf, r["block_last_doc"], bmax))
        return out

    for terms, mode, k in [
        (["vector"], "or", 10),
        (["the"], "or", 5),
        (["customer", "window", "batch"], "or", 10),
        (["customer", "window", "batch", "stream"], "or", 20),
        (["the", "vector"], "and", 10),
        (["customer", "window", "batch"], "and", 10),
    ]:
        want = _wand_segment(cursors(terms), k, avgdl, mode)
        if len(terms) == 1:
            got = _single_term_segment(cursors(terms)[0], k, avgdl)
        elif mode == "and":
            got = _and_segment(cursors(terms), k, avgdl)
        else:
            got = _or_segment(cursors(terms), k, avgdl)
        assert [g[0] for g in got] == [w[0] for w in want], (terms, mode)
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, (terms, mode, gd, gs, ws)


def test_phrase_seg_match_vectorized_vs_perdoc(docs_dict):
    """The vectorized cross-doc phrase kernel equals the per-doc reference
    (_sloppy_tf / position intersection) for exact and sloppy phrases, both
    term orders, slop 0-5 — including the start at adjusted position -j
    whose owner attribution needs the +m shift (the bug this harness
    caught: doc-block // OFFSET went to the previous doc for negative
    in-block values)."""
    import numpy as np

    from ee_outliers_spark.index.query import _phrase_seg_match, _sloppy_tf
    from ee_outliers_spark.tokenizer import tokenize_py

    toks = {d: tokenize_py(t) for d, t in docs_dict.items()}

    def build_plists(terms):
        plists = {}
        for term in terms:
            ds, flats, bounds = [], [], []
            cum = 0
            for d in sorted(toks):
                pos = [i for i, tk in enumerate(toks[d]) if tk == term]
                if pos:
                    ds.append(d)
                    flats.extend(pos)
                    cum += len(pos)
                    bounds.append(cum)
            plists[term] = (np.array(ds, np.int64),
                            np.array(flats, np.int64),
                            np.array(bounds, np.int64))
        return plists

    cases = [(["key", "order"], s) for s in (0, 1, 2, 5)] + [
        (["order", "key"], s) for s in (0, 1, 2)] + [
        (["the", "key", "order"], 0), (["the", "key", "order"], 3)] + [
        # repeated terms under slop: the vectorized greedy
        # distinct-position assignment (round 5) vs the per-doc reference
        (["batch", "batch"], s) for s in (1, 2, 3, 5)] + [
        (["key", "order", "key"], s) for s in (1, 2, 4)] + [
        (["the", "key", "the"], s) for s in (1, 3)] + [
        (["batch", "batch", "batch"], 2)]
    any_hits = 0
    for phrase, slop in cases:
        distinct = list(dict.fromkeys(phrase))
        pl = build_plists(distinct)
        got_d, got_t = _phrase_seg_match(pl, distinct, phrase, slop)
        got = dict(zip(got_d.tolist(), got_t.tolist()))
        inter = pl[distinct[0]][0]
        for p in distinct[1:]:
            inter = np.intersect1d(inter, pl[p][0], assume_unique=True)
        want = {}
        for d in inter:
            if slop > 0:
                tf = _sloppy_tf(pl, phrase, int(d), slop)
            else:
                cand = None
                for j, p in enumerate(phrase):
                    dd, fl, bb = pl[p]
                    i = int(np.searchsorted(dd, d))
                    lo = int(bb[i - 1]) if i > 0 else 0
                    pos = fl[lo:int(bb[i])] - j
                    cand = pos if cand is None else np.intersect1d(
                        cand, pos, assume_unique=True)
                tf = int(cand.size)
            if tf:
                want[int(d)] = tf
        assert got == want, (phrase, slop)
        any_hits += len(got)
    assert any_hits > 0


_N_SEG = 5


def _oracle_docs(documents):
    """(doc_id, text, title) rows over ``_N_SEG`` modulo segments, with
    zero-token docs (NULL, "", punctuation-only) among real ones, and
    segment ``_N_SEG - 1`` holding nothing else."""
    docs = [(int(r["doc_id"]), r["text"], (r["text"] or "")[:40])
            for r in documents.select("doc_id", "text").collect()
            if int(r["doc_id"]) % _N_SEG != _N_SEG - 1]
    top = max(d for d, _, _ in docs) + 1
    top += _N_SEG - top % _N_SEG  # top ≡ 0 (mod _N_SEG)
    empties = [None, "", " ,.;-- !! "]
    # segment _N_SEG-1 holds only zero-token docs (text and title)
    docs += [(top + _N_SEG * i + _N_SEG - 1, t, empties[(i + 1) % 3])
             for i, t in enumerate(empties)]
    # zero-token docs among real ones, one with a non-empty title
    docs += [(top + _N_SEG * 10 + i, t, None) for i, t in enumerate(empties)]
    docs.append((top + _N_SEG * 11, "", "Title Only, title!"))
    return docs


def _oracle_segment(seg_id, seg_docs, positional, fields):
    """Segment ``seg_id`` of ``seg_docs`` by a plain-Python inversion,
    encoded by ``segment_frame``."""
    import numpy as np
    import pandas as pd

    from ee_outliers_spark.index.build import segment_frame
    from ee_outliers_spark.tokenizer import tokenize_py

    seg_docs = sorted(seg_docs, key=lambda d: d[0])
    doc_ids = np.array([d[0] for d in seg_docs], np.int64)
    dls = np.array([len(tokenize_py(d[1])) for d in seg_docs], np.int64)
    poss: dict = {}
    sidecars = {}
    for col, prefix in [(1, "")] + [(2, f + ":") for f in fields]:
        flen = []
        for d in seg_docs:
            toks = tokenize_py(d[col])
            flen.append(len(toks))
            for i, t in enumerate(toks):
                poss.setdefault((prefix + t, d[0]), []).append(i)
        if prefix:
            flen = np.array(flen, np.int64)
            if flen.any():
                sidecars[prefix] = (doc_ids[flen > 0], flen[flen > 0])
    keys = sorted(poss)
    tf = pd.DataFrame({
        "term": pd.Series([k[0] for k in keys], dtype=object),
        "doc_id": np.array([k[1] for k in keys], np.int64),
        "tf": np.array([len(poss[k]) for k in keys], np.int64),
    })
    if positional:
        tf["poss"] = pd.Series(
            [np.array(poss[k], np.int64) for k in keys], dtype=object)
    return segment_frame(seg_id, doc_ids, dls, tf, 0.0,
                         field_sidecars=sidecars or None)


def _key_rows(pdf):
    """(seg_id, term) → every column but build_secs, in comparable form."""
    import numpy as np

    def norm(v):
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        if isinstance(v, (list, np.ndarray)):
            return [int(x) for x in v]
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return None
        return int(v) if isinstance(v, (float, np.integer)) else v

    cols = [c for c in pdf.columns if c != "build_secs"]
    return {(int(r["seg_id"]), r["term"]): tuple(norm(r[c]) for c in cols)
            for _, r in pdf.iterrows()}


def test_text_kernel_matches_python_oracle_segments(spark, documents):
    """The build kernel (segment_frames_df → _text_segment_kernel) must
    write the same segment bytes as a plain-Python inversion of the same
    docs encoded by ``segment_frame`` — dictionary order, doc/tf/pos blobs,
    block metadata and sidecars, every column but build_secs — for both
    index shapes, with and without a per-field analyzed column. The oracle
    shares only the encoder with the kernel (test_codec decodes that).
    Zero-token docs (NULL, "", punctuation-only) ride along, and one
    segment holds nothing else, so the kernel's no-token branch runs."""
    import pandas as pd

    from ee_outliers_spark.index.build import segment_frames_df

    docs = _oracle_docs(documents)
    base = spark.createDataFrame(docs, "doc_id long, text string, title string")
    for positional in (True, False):
        for fields in ((), ("title",)):
            got = _key_rows(segment_frames_df(
                base, _N_SEG, positional, analyzed_fields=fields).toPandas())
            want = _key_rows(pd.concat(
                [_oracle_segment(seg, [d for d in docs if d[0] % _N_SEG == seg],
                                 positional, fields)
                 for seg in range(_N_SEG)], ignore_index=True))
            assert set(got) == set(want), (positional, fields)
            for k in want:
                assert got[k] == want[k], (positional, fields, k)
            # the zero-token segment: only its doclen sidecar row
            assert [k for k in got if k[0] == _N_SEG - 1] == [
                (_N_SEG - 1, None)]


@pytest.mark.parametrize("positional", [True, False])
@pytest.mark.parametrize("fields", [(), ("title",)])
def test_merge_kernel_matches_python_oracle_segment(spark, documents,
                                                    positional, fields):
    """The LSM merge kernel (``_merge_group``) over segments the build
    kernel wrote must equal the plain-Python inversion of the union of
    their docs, encoded by ``segment_frame`` — every column but
    build_secs. The groups merge two segments, the segment of zero-token
    docs alone (its doclen row is all it has) and with another, and all."""
    from ee_outliers_spark.index.build import segment_frames_df
    from ee_outliers_spark.index.merge import _merge_group

    docs = _oracle_docs(documents)
    built = segment_frames_df(
        spark.createDataFrame(docs, "doc_id long, text string, title string"),
        _N_SEG, positional, analyzed_fields=fields).toPandas()
    last = _N_SEG - 1
    for group in ([0, 1], [last], [2, last], list(range(_N_SEG))):
        got = _key_rows(_merge_group(
            built[built["seg_id"].isin(group)].reset_index(drop=True), 99))
        want = _key_rows(_oracle_segment(
            99, [d for d in docs if d[0] % _N_SEG in group],
            positional, fields))
        assert set(got) == set(want), group
        for k in want:
            assert got[k] == want[k], (group, k)


def test_merge_kernel_rejects_mixed_positions():
    """A merge group whose segments disagree on positions is a corrupt
    index: the kernel raises ``ValueError`` naming it, not a TypeError
    mid-decode."""
    import pandas as pd

    from ee_outliers_spark.index.merge import _merge_group

    group = pd.concat([
        _oracle_segment(0, [(0, "red fox", None)], True, ()),
        _oracle_segment(1, [(1, "red wolf", None)], False, ()),
    ], ignore_index=True)
    with pytest.raises(ValueError, match="positional and non-positional"):
        _merge_group(group, 2)


def test_segment_routing_is_one_task_per_segment(spark, documents):
    """The pack exchange routes each segment to its OWN reduce partition:
    _route_keys(n) must be a bijection onto partitions under Spark's real
    hash partitioning (so _mm3_int32 must equal F.hash), and the routed
    exchange must place exactly one segment per non-empty partition —
    otherwise 128 segments hashed into shuffle.partitions reducers pack up
    to 1.5× the mean into one task (measured; the round-5 scaling gap)."""
    from pyspark.sql import functions as SF

    from ee_outliers_spark.index.build import (
        _mm3_int32, _route_keys, routed_segment_groupby)

    # 1. the python murmur3 IS Spark's F.hash on int32
    vals = list(range(-5, 200)) + [2**31 - 1, -2**31, 123456789]
    df = spark.createDataFrame([(v,) for v in vals], "x int")
    got = {r["x"]: r["h"] for r in
           df.select("x", SF.hash("x").alias("h")).collect()}
    for v in vals:
        assert _mm3_int32(v) == got[v], v

    # 2. bijection: n route keys cover n partitions exactly once
    for n in (4, 16, 128):
        routes = _route_keys(n)
        assert len(set(routes)) == n
        assert sorted(_mm3_int32(r) % n for r in routes) == list(range(n))

    # 3. physical: repartition(n, "_route") places the n route keys in n
    #    DISTINCT partitions (pins that Spark's partitioner is pmod(F.hash))
    n = 16
    routes = _route_keys(n)
    rdf = spark.createDataFrame(
        [(int(r),) for r in routes], "_route int").repartition(n, "_route")
    placed = rdf.select(
        "_route", SF.spark_partition_id().alias("p")).collect()
    assert sorted(r["p"] for r in placed) == list(range(n))
    for r in placed:
        assert r["p"] == _mm3_int32(r["_route"]) % n

    # 4. end-to-end: the routed grouped exchange yields every segment, one
    #    group per segment
    n_seg = 8
    src = documents.select(
        SF.col("doc_id").cast("long").alias("doc_id"), "text").select(
        (SF.col("doc_id") % n_seg).cast("int").alias("seg_id"), "*")

    def seg_of(key, pdf):
        import pandas as pd
        return pd.DataFrame({"seg_id": [int(pdf["seg_id"].iloc[0])],
                             "uniq": [int(pdf["seg_id"].nunique())]})

    rows = routed_segment_groupby(src, list(range(n_seg))).applyInPandas(
        seg_of, "seg_id int, uniq int").collect()
    assert sorted(r["seg_id"] for r in rows) == list(range(n_seg))
    assert all(r["uniq"] == 1 for r in rows)


def test_routed_segment_groupby_random_live_sets(spark):
    """Property test over random sparse live-sets (round-6 verdict #6):
    routed_segment_groupby — the build and merge router — must invoke the
    kernel exactly once per live segment with a SINGLE-segment pdf for
    every live-set shape the LSM can produce (sparse, non-contiguous
    seg_ids after compaction), with fewer and with more segments than
    cores."""
    import random

    import pandas as pd
    from pyspark.sql import functions as SF

    from ee_outliers_spark.index.build import routed_segment_groupby

    rng = random.Random(7)

    def seg_of(key, pdf):
        return pd.DataFrame({
            "seg_id": [int(pdf["seg_id"].iloc[0])],
            "uniq": [int(pdf["seg_id"].nunique())],
            "rows": [len(pdf)],
        })

    for size in (1, 2, 3, 5, 17, 64, 131, 256):
        live = sorted(rng.sample(range(1024), size))
        rows = [(s, i) for s in live for i in range(3)]
        df = spark.createDataFrame(rows, "seg_id int, x int")
        got = routed_segment_groupby(df, live).applyInPandas(
            seg_of, "seg_id int, uniq int, rows int").collect()
        assert sorted(r["seg_id"] for r in got) == live, size
        assert all(r["uniq"] == 1 for r in got), size
        assert all(r["rows"] == 3 for r in got), size
        # a seg_id OUTSIDE the live mapping must not alias into another
        # segment's group (negative-route fallback)
        extra = spark.createDataFrame(
            rows + [(1025, 0)], "seg_id int, x int")
        got2 = routed_segment_groupby(extra, live).applyInPandas(
            seg_of, "seg_id int, uniq int, rows int").collect()
        assert sorted(r["seg_id"] for r in got2) == sorted(live + [1025])
        assert all(r["uniq"] == 1 for r in got2)


def _segment_kernel_nodes(plan: str) -> list[str]:
    """The segment-kernel nodes of an executed plan: each is a MapInPandas
    of ``run_segment_kernel``'s task function whose child is a Range."""
    lines = plan.splitlines()
    return [ln for i, ln in enumerate(lines)
            if "MapInPandas segment_kernel(" in ln
            and i + 1 < len(lines) and "Range (" in lines[i + 1]]


def test_run_segment_kernel_random_live_sets(spark, tmp_path):
    """Property test for the query-side segment reader over random sparse
    live sets, with more and fewer segments than cores: every live segment
    reaches the kernel exactly once, each call sees exactly that segment's
    rows (term rows and sidecar), and a dead directory on disk — here a
    corrupt file that would fail any read — is never opened."""
    import random

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ee_outliers_spark.index.build import (
        IndexPaths, SegmentRead, run_segment_kernel, segment_arrow_schema)

    rng = random.Random(11)
    schema = segment_arrow_schema()
    read = SegmentRead(("a", "b", "c"), True, ("term", "df_local"))

    def kernel(seg, pdf):
        return pd.DataFrame({
            "seg_id": [seg],
            "rows": [len(pdf)],
            "own": [bool((pdf["df_local"] == seg).all())],
            "sidecars": [int(pdf["term"].isna().sum())]})

    cores = spark.sparkContext.defaultParallelism
    for size in (1, 2, 3, 5, 17, 64, 131, 256):
        paths = IndexPaths(str(tmp_path / f"idx{size}"))
        ids = rng.sample(range(1024), size + 3)
        live, dead = sorted(ids[:size]), ids[size:]
        for s in live:
            d = os.path.join(paths.segments, f"seg_id={s}")
            os.makedirs(d)
            cols = {f.name: pa.nulls(5, f.type) for f in schema}
            cols["term"] = pa.array(["a", "b", "c", "zz", None], pa.string())
            cols["df_local"] = pa.array([s] * 5, pa.int64())
            pq.write_table(pa.table(cols), os.path.join(d, "part-0.parquet"))
        for s in dead:
            d = os.path.join(paths.segments, f"seg_id={s}")
            os.makedirs(d)
            with open(os.path.join(d, "part-0.parquet"), "wb") as fh:
                fh.write(b"not a parquet file")
        df = run_segment_kernel(spark, paths, {"live_segments": live}, read,
                                kernel, "seg_id int, rows int, own boolean, "
                                        "sidecars int")
        assert df.rdd.getNumPartitions() == min(cores, size), size
        got = df.collect()
        assert sorted(r["seg_id"] for r in got) == live, size
        assert all(r["rows"] == 4 and r["own"] and r["sidecars"] == 1
                   for r in got), size


def test_phrase_seg_match_repeated_sloppy_randomized():
    """Seeded randomized differential for the vectorized repeated-term
    sloppy greedy (round-4 verdict #2): dense synthetic position lists are
    far more adversarial than real text for distinct-position assignment
    (many overlapping windows competing for the same positions)."""
    import random

    import numpy as np

    from ee_outliers_spark.index.query import _phrase_seg_match, _sloppy_tf

    rng = random.Random(20260817)
    vocab = ["a", "b", "c"]
    for trial in range(40):
        n_docs = rng.randint(1, 6)
        toks = {d: [rng.choice(vocab) for _ in range(rng.randint(3, 30))]
                for d in range(n_docs)}
        plists = {}
        for term in vocab:
            ds, flats, bounds = [], [], []
            cum = 0
            for d in sorted(toks):
                pos = [i for i, tk in enumerate(toks[d]) if tk == term]
                if pos:
                    ds.append(d)
                    flats.extend(pos)
                    cum += len(pos)
                    bounds.append(cum)
            plists[term] = (np.array(ds, np.int64),
                            np.array(flats, np.int64),
                            np.array(bounds, np.int64))
        m = rng.randint(2, 4)
        phrase = [rng.choice(vocab) for _ in range(m)]
        if len(set(phrase)) == m:
            phrase[-1] = phrase[0]  # force a repeat
        slop = rng.randint(1, 5)
        distinct = list(dict.fromkeys(phrase))
        if any(plists[t][0].size == 0 for t in distinct):
            continue
        got_d, got_t = _phrase_seg_match(plists, distinct, phrase, slop)
        got = dict(zip(got_d.tolist(), got_t.tolist()))
        inter = plists[distinct[0]][0]
        for p in distinct[1:]:
            inter = np.intersect1d(inter, plists[p][0], assume_unique=True)
        want = {}
        for d in inter:
            tf = _sloppy_tf(plists, phrase, int(d), slop)
            if tf:
                want[int(d)] = tf
        assert got == want, (trial, phrase, slop, toks)


def test_auto_num_segments_budget(spark):
    """Derived segment count follows the SPIMI memory budget: ~16k docs
    per segment (ceil of the need) past one wave — the round-7 two-armed
    wave-align probe measured need-based counts ~10% faster to build than
    wave-down-rounded ones, and query kernels now pack into `cores` tasks
    regardless of segment count — capped (beyond the cap a corpus shards
    into multiple indexes). BELOW one wave the count is need-scaled
    (~4k docs per segment, capped at cores), not floored at the core
    count: interleaved fresh-JVM A/Bs (bench_evidence/segfloor_r7/)
    measured 5k-doc builds ~1 s faster at 2-5 segments than at 32, and
    50k-doc builds ~1 s faster at 13 — spinning one Python worker per
    core for a corpus whose whole kernel fits one task is pure cold-start
    contention."""
    import math

    from ee_outliers_spark.index.build import auto_num_segments

    cores = spark.sparkContext.defaultParallelism
    # Tiny corpora: one segment per ~4k docs, never more than cores.
    assert auto_num_segments(spark, 100) == 1
    assert auto_num_segments(spark, 5_000) == min(cores, 2)
    # below 4 cores 50k docs need 4 segments > cores: the need branch
    expect = 4 if cores < 4 else min(cores, 13)
    assert auto_num_segments(spark, 50_000) == expect
    # The small-corpus floor never drops below the SPIMI need and joins
    # the need path continuously at one wave (need == cores).
    n_midsize = 131_072  # need 8; small-floor ceil(n/4096) = 32
    expect = 8 if cores < 8 else min(cores, 32)
    assert auto_num_segments(spark, n_midsize) == expect
    assert auto_num_segments(spark, 16_384 * cores) == cores
    # 1M docs -> need ceil(1M/16384) = 62 segments (exact memory budget)
    assert auto_num_segments(spark, 1_000_000) == max(cores, 62)
    # 2.4M -> need 147: the budget, not a wave-rounded substitute
    assert auto_num_segments(spark, 2_400_000) == max(cores, 147)
    assert auto_num_segments(spark, 10**9) == 4096
    assert math.ceil(10**9 / 16_384) / 4096 > 1  # cap binds, documented


def test_or_segment_lazy_decode_skips_blocks():
    """_or_segment decompresses ONLY blocks of chunks visited before the
    θ-break: a head term spanning hundreds of blocks, disjoined with a rare
    high-impact term clustered at the front, must leave the head list's far
    blocks undecoded (round 3 eagerly decoded every query term's whole list
    — VERDICT watch item #3). Differential vs the DAAT reference loop."""
    import numpy as np

    from ee_outliers_spark.index.build import BLOCK, block_upper_bound
    from ee_outliers_spark.index.codec import encode_postings
    from ee_outliers_spark.index.query import (
        _TermCursor, _idf, _or_segment, _wand_segment,
    )

    avgdl, n_docs = 50.0, 200_000
    dl_docs = np.arange(n_docs, dtype=np.int64)
    dl_vals = np.full(n_docs, 50, dtype=np.int64)

    def mk(doc_ids, tfs):
        doc_ids = np.asarray(doc_ids, np.int64)
        tfs = np.asarray(tfs, np.int64)
        dblob, tblob = encode_postings(doc_ids, tfs)
        nblk = (len(doc_ids) + BLOCK - 1) // BLOCK
        blast = [int(doc_ids[min((i + 1) * BLOCK, len(doc_ids)) - 1])
                 for i in range(nblk)]
        bmaxtf = [int(tfs[i * BLOCK:(i + 1) * BLOCK].max())
                  for i in range(nblk)]
        idf = _idf(n_docs, len(doc_ids))
        bmax = block_upper_bound(bmaxtf, [50] * nblk, avgdl) * idf
        return _TermCursor(dblob, tblob, dl_docs, dl_vals, idf, blast, bmax)

    head_docs = np.arange(0, n_docs, 2)          # ~780 blocks, tf=1
    rare_docs = np.arange(0, 64)                 # one block, huge impact
    args = [(head_docs, np.ones(len(head_docs))),
            (rare_docs, np.full(64, 8))]

    decoded: set[tuple[int, int]] = set()
    orig = _TermCursor._load

    def counting(self, b):
        decoded.add((id(self), b))
        return orig(self, b)

    _TermCursor._load = counting
    try:
        got = _or_segment([mk(*a) for a in args], 10, avgdl)
    finally:
        _TermCursor._load = orig
    want = _wand_segment([mk(*a) for a in args], 10, avgdl, "or")
    assert [g[0] for g in got] == [w[0] for w in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9
    total_blocks = sum(
        (len(a[0]) + BLOCK - 1) // BLOCK for a in args)
    assert len(decoded) < total_blocks * 0.25, (
        f"decoded {len(decoded)}/{total_blocks} blocks — lazy decode broken")


def test_indexed_filter_multiterm_atoms(spark, documents, pos_paths):
    """Wildcard / fuzzy / sloppy-phrase atoms resolve index-backed (term
    dictionary scan + position windows) and agree with the regex/HOF
    compilation of the same AST over raw text."""
    from ee_outliers_spark.index.filter import indexed_filter
    from ee_outliers_spark.queryparser import (
        parse_query_string, to_spark_predicate,
    )

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    for qs in ["cust*", "wind?w OR batch", "custoner~1 AND lang:en",
               '"order key"~2', 'cust* AND "key order"~1',
               "zzzq* OR customer", "qqqzzz*",
               'fast~1 AND source:src1*']:
        node = parse_query_string(qs)
        want = sorted(r["doc_id"] for r in documents.where(
            to_spark_predicate(node, "text", cols)).select("doc_id").collect())
        out = indexed_filter(spark, pos_paths, documents, "doc_id", "text",
                             node, cols)
        got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
        assert got == want, qs


def test_sloppy_phrase_three_terms_positional(spark, documents, pos_paths):
    """m>2 sloppy phrases (beyond the regex backends) match the brute-force
    range formulation computed in Python over the raw corpus, including a
    repeated-term phrase where one doc position must not serve two phrase
    offsets."""
    import itertools

    from ee_outliers_spark.index.build import load_stats
    from ee_outliers_spark.index.query import _phrase_hits
    from ee_outliers_spark.tokenizer import tokenize_py

    def brute(doc_toks, phrase, slop):
        pos = {t: [i for i, x in enumerate(doc_toks) if x == t]
               for t in set(phrase)}
        if any(not pos[t] for t in phrase):
            return False
        for combo in itertools.product(*[pos[t] for t in phrase]):
            if len(set(combo)) < len(combo):
                continue
            adj = [p - o for o, p in enumerate(combo)]
            if max(adj) - min(adj) <= slop:
                return True
        return False

    rows = {int(r["doc_id"]): tokenize_py(r["text"])
            for r in documents.select("doc_id", "text").collect()}
    for phrase, slop in [("key order update", 3), ("the key order", 2),
                         ("batch batch stream", 2), ("key the key", 3)]:
        hits = _phrase_hits(spark, pos_paths, load_stats(pos_paths), phrase,
                            slop)
        # None: the phrase has a zero-df token and matches nothing
        got = sorted(int(r["doc_id"])
                     for r in (hits.collect() if hits is not None else []))
        want = sorted(d for d, toks in rows.items()
                      if brute(toks, tokenize_py(phrase), slop))
        assert got == want, (phrase, slop)


def test_search_topk_composed(spark, documents, pos_paths):
    """search_topk = eligibility from the whole boolean + score from the
    positive text atoms; docs eligible through a field-only branch score
    0.0 and rank by doc_id at the bottom (ES filter-context semantics)."""
    from ee_outliers_spark.index.query import querystring_topk, search_topk

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    # field-only query: every eligible doc scores 0, ordered by doc_id
    out = search_topk(spark, pos_paths, documents, "doc_id", "text",
                      "lang:en", 5, cols).collect()
    want = sorted(r["doc_id"] for r in documents.where(
        "lang = 'en'").select("doc_id").collect())[:5]
    assert [int(r["doc_id"]) for r in out] == [int(x) for x in want]
    assert all(float(r["score"]) == 0.0 for r in out)

    # text+filter query: scores equal the unfiltered scorer's on the
    # eligible subset (df/idf stay corpus-global, not filtered)
    full = {int(r["doc_id"]): float(r["score"]) for r in querystring_topk(
        spark, pos_paths, "customer window", 10_000).collect()}
    got = search_topk(spark, pos_paths, documents, "doc_id", "text",
                      "(customer OR window) AND lang:de", 10, cols).collect()
    en_ids = {int(r["doc_id"]) for r in documents.where(
        "lang = 'de'").select("doc_id").collect()}
    assert got, "expected matches"
    for r in got:
        d = int(r["doc_id"])
        assert d in en_ids
        assert abs(float(r["score"]) - full[d]) < 1e-9


def test_search_topk_respects_docs_subset(spark, documents, pos_paths):
    """Round-4 ADVICE: the text-only fast path used matching_ids against
    the INDEXED universe and ignored the docs argument — a filtered docs
    subset silently got hits outside it, and NOT resolved against the
    index rather than the subset. Now semi-joined: every hit must come
    from the passed subset, for plain, negated, and match-all queries."""
    from ee_outliers_spark.index.query import search_topk
    from ee_outliers_spark.queryparser import (
        parse_query_string, to_python_predicate,
    )

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    subset = documents.where("doc_id % 3 = 0")
    rows = [r.asDict() for r in documents.collect()]
    sub_ids = {r["doc_id"] for r in rows if r["doc_id"] % 3 == 0}
    # the mixed booleans take indexed_filter's marker join (inner when a
    # text atom is required, left for the negation); the phrase matches
    # only docs outside the subset, so its answer must be empty
    for qs in ["customer OR window", "NOT customer", "*",
               "customer AND lang:en", "NOT customer AND _exists_:lang",
               '"key order" AND lang:de']:
        pred = to_python_predicate(parse_query_string(qs), "text", cols)
        want = [r["doc_id"] for r in rows if pred(r)]
        n_sub = sum(d in sub_ids for d in want)
        assert len(want) > n_sub, qs  # some matches lie outside the subset
        out = search_topk(spark, pos_paths, subset, "doc_id", "text",
                          qs, 50, cols).collect()
        assert len(out) == min(50, n_sub), qs
        assert all(int(r["doc_id"]) in sub_ids for r in out), qs
    # full-corpus call unchanged: identical to matching_ids-ranked result
    full = search_topk(spark, pos_paths, documents, "doc_id", "text",
                       "customer OR window", 50, cols).collect()
    sub = search_topk(spark, pos_paths, subset, "doc_id", "text",
                      "customer OR window", 50, cols).collect()
    sub_from_full = [r for r in full if int(r["doc_id"]) in sub_ids]
    got = {int(r["doc_id"]): float(r["score"]) for r in sub}
    for r in sub_from_full[: len(got)]:
        assert abs(got[int(r["doc_id"])] - float(r["score"])) < 1e-9


def test_matching_ids_refuses_phrase_without_positions(spark, seg_paths):
    """Round-4 ADVICE: on a non-positional index a multi-token phrase used
    to evaluate as 'matches nothing' (and NOT "a b" as the whole
    universe) — silent wrong answers. matching_ids now raises instead."""
    from ee_outliers_spark.index.filter import matching_ids
    from ee_outliers_spark.queryparser import parse_query_string

    for qs in ['"key order"', 'NOT "key order"', 'customer AND "key order"']:
        with pytest.raises(ValueError, match="positional"):
            matching_ids(spark, seg_paths, parse_query_string(qs))
    # single-token atoms stay fine on the non-positional index
    assert matching_ids(
        spark, seg_paths, parse_query_string("customer")).count() > 0


def test_indexed_filter_phrases_off_positional_index(spark, documents, pos_paths):
    """On a positional index the filter context resolves quoted phrases by
    position-list intersection: the compiled plan contains NO regex at all
    (round 2 kept rlike for phrases), and rows equal the regex compilation.
    When the boolean requires a text atom, the docs join is an inner join
    with the markers of the candidate postings' docs."""
    from ee_outliers_spark.index.filter import indexed_filter
    from ee_outliers_spark.queryparser import parse_query_string, to_spark_predicate

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    for qs in ['window AND NOT "batch batch"',
               '"key order" AND _exists_:lang',
               'customer "key order"']:
        node = parse_query_string(qs)
        want = sorted(r["doc_id"] for r in documents.where(
            to_spark_predicate(node, "text", cols)).select("doc_id").collect())
        out = indexed_filter(spark, pos_paths, documents, "doc_id", "text",
                             node, cols)
        got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
        assert got == want, qs
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "rlike" not in plan.lower(), qs


def test_mixed_filter_plan_has_one_segment_scan(spark, documents, pos_paths):
    """A mixed boolean's term, phrase and wildcard atoms resolve in ONE
    segment-kernel pass — the marker kernel, reading the segments in place
    (one MapInPandas over a Range, no JVM scan of posting blobs) — and the
    docs table joins the per-doc markers straight out of the segment
    tasks: no aggregate keyed on doc_id sits before the docs join."""
    import re

    from ee_outliers_spark.index.filter import indexed_filter
    from ee_outliers_spark.queryparser import parse_query_string, to_spark_predicate

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    node = parse_query_string(
        'window AND "key order" AND cust* AND _exists_:lang')
    out = indexed_filter(spark, pos_paths, documents, "doc_id", "text",
                         node, cols)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(_segment_kernel_nodes(plan)) == 1, plan
    blob_scans = [m for m in re.findall(r"ReadSchema: struct<[^\n]*", plan)
                  if "doc_blob" in m]
    assert not blob_scans, plan
    # HashAggregate prints keys=[...], SortAggregate key=[...]
    assert not re.search(r"Aggregate\(keys?=\[[^\]]*doc_id", plan), plan
    want = sorted(r["doc_id"] for r in documents.where(
        to_spark_predicate(node, "text", cols)).select("doc_id").collect())
    got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert want and got == want


def test_querystring_topk_mixed_matches_manual_sum(spark, documents, pos_paths):
    """Mixed term+phrase scoring = sum of the term-path and phrase-path
    contributions, rank checked against a direct per-doc computation."""
    import math

    from ee_outliers_spark.index.query import querystring_topk
    from ee_outliers_spark.tokenizer import tokenize_py

    got = [(int(r["doc_id"]), float(r["score"])) for r in
           querystring_topk(spark, pos_paths, 'customer "key order"', 15)
           .collect()]
    # manual oracle
    docs = {int(r["doc_id"]): tokenize_py(r["text"])
            for r in documents.select("doc_id", "text").collect()}
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    def idf(df_): return math.log(1 + (n - df_ + 0.5) / (df_ + 0.5))
    def part(tf, dl, i):
        return i * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    term_df = sum(1 for t in docs.values() if "customer" in t)
    ph = ["key", "order"]
    def phrase_tf(toks):
        return sum(1 for i in range(len(toks) - 1) if toks[i:i+2] == ph)
    ph_df = sum(1 for t in docs.values() if phrase_tf(t) > 0)
    scores = {}
    for d, toks in docs.items():
        s = 0.0
        tf = toks.count("customer")
        if tf:
            s += part(tf, len(toks), idf(term_df))
        ptf = phrase_tf(toks)
        if ptf:
            s += part(ptf, len(toks), idf(ph_df))
        if s:
            scores[d] = s
    want = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:15]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9), (gd, gs, ws)


def test_or_segment_exhaustive_equals_brute_force():
    """_or_segment(..., k=None) — search_topk's per-doc scores — returns
    EVERY doc any cursor holds, each with the brute-force sum of its
    idf-weighted impacts, for term cursors spanning many blocks plus a
    decoded-list (phrase) cursor."""
    import numpy as np

    from ee_outliers_spark.index.build import BLOCK, block_upper_bound
    from ee_outliers_spark.index.codec import encode_postings
    from ee_outliers_spark.index.query import (
        _ListCursor, _TermCursor, _impact_np, _or_segment,
    )

    rng = np.random.default_rng(11)
    n_docs, avgdl = 5_000, 30.0
    dl_docs = np.arange(n_docs, dtype=np.int64)
    dl_vals = rng.integers(1, 90, n_docs).astype(np.int64)
    lists = []
    for size in (1_900, 700, 40):
        docs = np.sort(rng.choice(n_docs, size, replace=False)).astype(np.int64)
        lists.append((docs, rng.integers(1, 6, size).astype(np.int64),
                      float(rng.uniform(0.5, 3.0))))

    cursors = []
    for docs, tfs, w in lists[:2]:
        dblob, tblob = encode_postings(docs, tfs)
        nblk = (len(docs) + BLOCK - 1) // BLOCK
        blast = [int(docs[min((i + 1) * BLOCK, len(docs)) - 1])
                 for i in range(nblk)]
        bmaxtf = [int(tfs[i * BLOCK:(i + 1) * BLOCK].max())
                  for i in range(nblk)]
        bmindl = [int(dl_vals[docs[i * BLOCK:(i + 1) * BLOCK]].min())
                  for i in range(nblk)]
        bmax = block_upper_bound(bmaxtf, bmindl, avgdl) * w
        cursors.append(_TermCursor(dblob, tblob, dl_docs, dl_vals, w,
                                   blast, bmax))
    docs, tfs, w = lists[2]
    cursors.append(_ListCursor(docs, tfs, dl_vals[docs], w, avgdl))

    want: dict[int, float] = {}
    for docs, tfs, w in lists:
        for d, s in zip(docs.tolist(),
                        (w * _impact_np(tfs, dl_vals[docs], avgdl)).tolist()):
            want[d] = want.get(d, 0.0) + s
    got = _or_segment(cursors, None, avgdl)
    assert len(got) == len(want)
    assert got == sorted(got, key=lambda x: (-x[1], x[0]))
    for d, s in got:
        assert math.isclose(s, want[d], rel_tol=1e-12), d


def _sloppy_tf_brute(toks, phrase, slop):
    """Window starts v (a token position minus its phrase offset) from which
    every offset j claims a DISTINCT doc position in [v+j, v+j+slop]."""
    import itertools

    starts = {p - j for j, t in enumerate(phrase)
              for p, x in enumerate(toks) if x == t}
    n = 0
    for v in starts:
        windows = [[p for p in range(max(0, v + j), v + j + slop + 1)
                    if p < len(toks) and toks[p] == t]
                   for j, t in enumerate(phrase)]
        if any(len(set(c)) == len(c) for c in itertools.product(*windows)):
            n += 1
    return n


def _edit_distance(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.fixture(scope="module")
def pos1_paths(spark, documents, tmp_path_factory):
    """One positional segment: posting lists span several 128-doc blocks,
    so the kernel's block-max pruning decides within the segment."""
    out = str(tmp_path_factory.mktemp("index_pos1"))
    return build_segments(spark, documents, "doc_id", "text", out,
                          num_segments=1, positions=True)


@pytest.mark.parametrize("index", ["pos_paths", "pos1_paths"])
def test_querystring_topk_randomized_vs_python_scorer(spark, index, request,
                                                      oracle):
    """querystring_topk ≡ a plain-Python scorer over OracleIndex on seeded
    random queries mixing boosted terms, prefix and infix wildcards, a
    regexp, a fuzzy, exact / sloppy / single-token phrases, a term repeated
    as a phrase (`foo "foo"`: two clauses) and a zero-df term. Every term,
    every dictionary term a pattern atom matches and every phrase is its
    own BM25 clause with its boost; clauses sum per doc. k is small and,
    where the ranking has an exact tie, cuts through it: tied docs must come
    in doc-id order. Runs on 8 segments (per-segment top-k merged globally)
    and on one (block-max pruning inside the segment)."""
    import random
    import re

    from ee_outliers_spark.index.query import querystring_topk
    from ee_outliers_spark.oracle import bm25_idf, bm25_tf_part

    paths = request.getfixturevalue(index)
    rng = random.Random(20261017)
    vocab = sorted(oracle.tf)
    long_words = [t for t in vocab if len(t) >= 5]
    doc_toks = [t for t in oracle.toks.values() if len(t) >= 4]

    def wild_rx(pattern):
        return "".join("[a-z0-9]*" if c == "*" else "[a-z0-9]" if c == "?"
                       else c for c in pattern)

    def clauses_of(atom):
        """[(term or phrase tokens, slop, boost)] — the atom's clauses."""
        kind, arg, b = atom
        if kind == "term":
            return [((arg,), 0, b)]
        if kind == "phrase":
            toks, slop = arg
            return [(tuple(toks), slop, b)]
        if kind == "fuzzy":
            tok, m = arg
            return [((t,), 0, b) for t in vocab
                    if _edit_distance(t, tok) <= m]
        rx = re.compile(wild_rx(arg) if kind == "wild" else arg)
        return [((t,), 0, b) for t in vocab if rx.fullmatch(t)]

    def render(atom):
        kind, arg, b = atom
        if kind == "term":
            s = arg
        elif kind == "phrase":
            toks, slop = arg
            s = '"' + " ".join(toks) + '"' + (f"~{slop}" if slop else "")
        elif kind == "fuzzy":
            s = f"{arg[0]}~{arg[1]}"
        elif kind == "regexp":
            s = f"/{arg}/"
        else:
            s = arg
        return s + ("" if b == 1.0 else f"^{b:g}")

    def random_query(i):
        boost = lambda: rng.choice([1.0, 1.0, 2.0, 0.5, 3.0])  # noqa: E731
        t1, t2 = rng.sample(vocab, 2)
        w = rng.choice(long_words)
        toks = rng.choice(doc_toks)
        p = rng.randrange(len(toks) - 3)
        # every pattern matches w, so w carries two patterns' boosts
        patterns = [
            ("wild", w[:rng.randint(1, 3)] + "*", boost()),
            ("wild", "*" + w[1:3] + "*", boost()),
            ("wild", w[0] + "?" + w[2:4] + "*", boost()),
            ("regexp", w[:2] + "[a-z]+", boost()),
            ("fuzzy", (w[:-1] + ("x" if w[-1] != "x" else "y"), 1), boost()),
        ]
        phrase = [
            ("phrase", (toks[p:p + 2], 0), boost()),
            ("phrase", ([toks[p], toks[p + 2]], rng.randint(1, 2)), boost()),
            ("phrase", (toks[p:p + 3], rng.randint(0, 2)), boost()),
            ("phrase", ([t2], 0), boost()),
        ][i % 4]
        if i % 3 == 0:
            # foo "foo" scores like one term: exact ties are common
            atoms = [("term", t1, boost()), ("phrase", ([t1], 0), boost())]
        else:
            atoms = [("term", t1, boost()), patterns[i % 5],
                     patterns[(i + 1) % 5], phrase]
        if i % 2 == 0:
            atoms.append(("term", "zzqqxj", boost()))
        rng.shuffle(atoms)
        return atoms

    def python_topk(atoms):
        scores: dict[int, float] = {}
        for key, slop, b in [c for a in atoms for c in clauses_of(a)]:
            if len(key) == 1:
                hits = oracle.tf.get(key[0], {})
            else:
                hits = {d: n for d, t in oracle.toks.items()
                        if (n := _sloppy_tf_brute(t, list(key), slop))}
            if not hits:
                continue
            idf = bm25_idf(oracle.n, len(hits))
            for d, tf in hits.items():
                scores[d] = scores.get(d, 0.0) + b * idf * bm25_tf_part(
                    tf, oracle.dl[d], oracle.avgdl)
        return sorted(scores.items(), key=lambda x: (-x[1], x[0]))

    cut_ties = 0
    for i in range(16):
        atoms = random_query(i)
        qs = " ".join(render(a) for a in atoms)
        ranked = python_topk(atoms)
        # k cuts through the first exact tie in the top 20 when there is
        # one: the kernel must keep the tied doc with the lower id
        ties = [j for j in range(min(20, len(ranked) - 1))
                if ranked[j][1] == ranked[j + 1][1]]
        k = ties[0] + 1 if ties else 5
        cut_ties += bool(ties)
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in querystring_topk(spark, paths, qs, k).collect()]
        want = ranked[:k]
        score_of = dict(ranked)
        assert len(got) == len(want), qs
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gd in score_of, (qs, gd)
            assert math.isclose(gs, score_of[gd], rel_tol=1e-9), (qs, gd)
            # a swap is allowed only between float-noise near-ties, never
            # between exactly tied docs (those rank by doc id)
            assert gd == wd or (score_of[gd] != ws and math.isclose(
                score_of[gd], ws, rel_tol=1e-12)), (qs, got, want)
    assert cut_ties >= 3, "too few queries put a tie on the cut"
