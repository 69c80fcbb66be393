"""Edge-input robustness: malformed query_strings fail loudly with
ValueError (not a Spark analysis explosion later), degenerate-but-legal
inputs behave, and top-k handles k ≫ corpus and duplicate query terms."""

import pytest

from ee_outliers_spark.queryparser import (
    dsl_to_ast, parse_query_string, to_duckdb_sql, to_python_predicate,
    to_spark_predicate,
)

MALFORMED = [
    "",
    "   ",
    "(unclosed",
    "unopened)",
    "field:",
    "AND",
    "a AND",
    "NOT",
    "n:[1 TO",
    "n:[1 2]",      # missing TO
    "n:[1 TO 2",    # unterminated range
    "n:>",          # comparator without value
    'a AND "unterminated phrase',
    "^2",           # boost with no preceding atom
    "a^",           # boost without a number
    "~",            # fuzz with no preceding atom
    "lang:(",       # unterminated field group
    "lang:(n_chars:5)",  # field atom inside a field group
]


@pytest.mark.parametrize("q", MALFORMED)
def test_malformed_query_strings_raise(q):
    with pytest.raises(ValueError):
        parse_query_string(q)


DEGENERATE_OK = [
    '""',                # empty phrase — parses, matches nothing
    "a--b",              # dashes inside a word
    "-a",                # bare negation
    "f.keyword:v",       # keyword suffix
    "n:[* TO *]",        # fully open range = exists
    "zz*^2",             # boosted wildcard that matches nothing
    "a~ b",              # fuzzy then adjacent term
    '""~2',              # sloppy empty phrase — matches nothing
    "*?*",               # wildcard degenerate (not bare * = match_all)
    "f.keyword:(v w)",   # field group with keyword suffix
]


@pytest.mark.parametrize("q", DEGENERATE_OK)
def test_degenerate_inputs_parse_and_compile(q, spark, documents):
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    node = parse_query_string(q.replace("f.keyword", "lang").replace("n:", "n_chars:"))
    # all three compilations must build without raising
    to_duckdb_sql(node, "text", cols)
    to_python_predicate(node, "text", cols)
    documents.where(to_spark_predicate(node, "text", cols)).limit(1).collect()


def test_unknown_field_raises_keyerror():
    with pytest.raises(KeyError):
        to_duckdb_sql(parse_query_string("nope:1"), "text", ["doc_id", "text"])


def test_topk_k_exceeds_corpus(spark, documents, tmp_path_factory):
    from ee_outliers_spark.index.build import build_segments
    from ee_outliers_spark.index.query import bm25_topk_wand

    out = str(tmp_path_factory.mktemp("idx_bigk"))
    p = build_segments(spark, documents, "doc_id", "text", out, num_segments=4)
    rows = bm25_topk_wand(spark, p, ["the"], 10_000_000, "or").collect()
    # every matching doc returned once, rank order intact
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids)) > 0
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_topk_duplicate_query_terms(spark, documents, tmp_path_factory):
    """Duplicate terms dedup like Lucene's term set — scoring each term
    once, not twice."""
    from ee_outliers_spark.index.build import build_segments
    from ee_outliers_spark.index.query import bm25_topk_wand

    out = str(tmp_path_factory.mktemp("idx_dup"))
    p = build_segments(spark, documents, "doc_id", "text", out, num_segments=4)
    once = [(r["doc_id"], round(r["score"], 9)) for r in
            bm25_topk_wand(spark, p, ["vector"], 10, "or").collect()]
    twice = [(r["doc_id"], round(r["score"], 9)) for r in
             bm25_topk_wand(spark, p, ["vector", "vector"], 10, "or").collect()]
    assert once == twice


@pytest.mark.parametrize("q", [
    "(" * 10_000 + "a" + ")" * 10_000,
    "NOT " * 10_000 + "a",
])
def test_deep_query_strings_raise_valueerror(q):
    """Nesting past the parser's bound fails with the documented ValueError,
    not a RecursionError from the recursive descent."""
    with pytest.raises(ValueError, match="nests deeper"):
        parse_query_string(q)


def test_moderate_nesting_parses_and_compiles():
    cols = ["doc_id", "text"]
    for q in ("(" * 50 + "a AND NOT b" + ")" * 50, "NOT " * 50 + "a"):
        node = parse_query_string(q)
        to_duckdb_sql(node, "text", cols)
        to_python_predicate(node, "text", cols)


@pytest.mark.parametrize("key", ["must", "must_not"])
def test_dsl_nesting_is_bounded(key):
    """ES-DSL bool clauses share the query_string bound: 5,000 nested
    levels raise ValueError, not RecursionError; 50 levels parse."""
    def nested(depth):
        d = {"term": {"lang": "en"}}
        for _ in range(depth):
            d = {"bool": {key: [d]}}
        return d

    with pytest.raises(ValueError, match="nests deeper"):
        dsl_to_ast(nested(5_000))
    to_duckdb_sql(dsl_to_ast(nested(50)), "text", ["doc_id", "text", "lang"])
