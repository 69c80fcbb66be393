"""query_string grammar (ref F2) — parse shapes + predicate agreement between
the Spark compilation, the DuckDB compilation and the pure-Python oracle."""

import duckdb
import pytest

from ee_outliers_spark.queryparser import (
    And, Exists, FieldEq, FieldRange, FieldWildcard, Fuzzy, MatchAll, Not,
    Or, Phrase, Term, Wildcard, collect_text_terms, dsl_to_ast,
    parse_query_string, slop_regex, to_duckdb_sql, to_python_predicate,
    to_spark_predicate,
)

COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def test_multiterm_shapes():
    assert parse_query_string("cust*") == Wildcard("cust*")
    assert parse_query_string("f?o*") == Wildcard("f?o*")
    assert parse_query_string("name~1") == Fuzzy("name", 1)
    assert parse_query_string("name~") == Fuzzy("name", 2)  # Lucene default
    assert parse_query_string("name~9") == Fuzzy("name", 2)  # ES cap
    assert parse_query_string('"a b"~2') == Phrase("a b", slop=2)
    assert parse_query_string('"a b"~') == Phrase("a b", slop=0)
    assert parse_query_string("lang:e?") == FieldWildcard("lang", "e?")
    assert parse_query_string("source:src1*") == FieldWildcard("source", "src1*")
    assert parse_query_string("*") == MatchAll()
    assert parse_query_string("lang:*") == Exists("lang")
    assert parse_query_string("lang:(en OR de)") == Or(
        [FieldEq("lang", "en"), FieldEq("lang", "de")])
    assert parse_query_string('source:(src1 "src2")') == Or(
        [FieldEq("source", "src1"), FieldEq("source", "src2")])
    assert parse_query_string("source:(src1* AND NOT src19)") == And(
        [FieldWildcard("source", "src1*"), Not(FieldEq("source", "src19"))])
    with pytest.raises(ValueError):
        parse_query_string("lang:(n_chars:5)")  # field atom inside group
    # `*` as a range bound stays an open bound, not a wildcard
    assert parse_query_string("n_chars:[* TO 5]") == FieldRange(
        "n_chars", None, "5", True, True)


def test_boost_shapes():
    assert parse_query_string("fast^2") == Term("fast", boost=2.0)
    assert parse_query_string('"a b"~2^3') == Phrase("a b", slop=2, boost=3.0)
    assert parse_query_string("cust*^1.5") == Wildcard("cust*", boost=1.5)
    assert parse_query_string("name~1^2") == Fuzzy("name", 1, boost=2.0)
    # group boost distributes over the summed clauses: (a b)^2 == a^2 b^2
    assert parse_query_string("(fast slow)^2") == Or(
        [Term("fast", boost=2.0), Term("slow", boost=2.0)])
    # boost on field atoms is RETAINED on the node (round 5): still a
    # scoring no-op for keyword FieldEq (filter context), but carried into
    # FieldText when resolve_analyzed maps the field to the analyzed index
    assert parse_query_string("lang:en^2") == FieldEq("lang", "en",
                                                      boost=2.0)
    from ee_outliers_spark.queryparser import FieldText, resolve_analyzed

    assert resolve_analyzed(parse_query_string("title:batch^2"),
                            ["title"]) == FieldText("title", "batch",
                                                    boost=2.0)
    with pytest.raises(ValueError):
        parse_query_string("fast^")


def test_slop_regex_matches_range_formulation():
    """2-term slop regex ≡ brute-force Lucene range formulation (exists
    positions p_i with max(p_i - o_i) - min(p_i - o_i) <= slop, distinct
    positions)."""
    import itertools
    import random
    import re as _re

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

    rng = random.Random(7)
    vocab = ["a", "b", "c", "d"]
    for _ in range(1500):
        doc = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 10)))
        phrase = [rng.choice(vocab), rng.choice(vocab)]
        slop = rng.randint(0, 4)
        rx = _re.compile(slop_regex(phrase, slop))
        assert bool(rx.search(doc)) == brute(tokenize_py(doc), phrase, slop), (
            doc, phrase, slop)


def test_shapes():
    n = parse_query_string('tags AND "power shell" AND (a:b OR c:"d e") -bad')
    assert isinstance(n, And) or isinstance(n, Or)
    assert isinstance(parse_query_string("hello"), Term)
    assert isinstance(parse_query_string('"hello world"'), Phrase)
    assert isinstance(parse_query_string("lang:en"), FieldEq)
    assert isinstance(parse_query_string("_exists_:lang"), Exists)
    assert isinstance(parse_query_string("-spam"), Not)
    assert isinstance(parse_query_string("NOT spam"), Not)


def test_keyword_suffix_and_case():
    n = parse_query_string("LANG.keyword:en")
    sql = to_duckdb_sql(n, "text", COLS)
    assert sql == "lang = 'en'"


def test_adjacency_is_or():
    n = parse_query_string("alpha beta")
    assert isinstance(n, Or)


def test_collect_text_terms():
    n = parse_query_string('fast AND "key order" AND lang:en -slow')
    terms, phrases = collect_text_terms(n)
    assert terms == ["fast"]
    assert phrases == ["key order"]


def test_range_shapes():
    r = parse_query_string("n_chars:[10 TO 20]")
    assert r == FieldRange("n_chars", "10", "20", True, True)
    r = parse_query_string("n_chars:{10 TO 20}")
    assert (r.lo_inc, r.hi_inc) == (False, False)
    r = parse_query_string("n_chars:[* TO 20}")
    assert r.lo is None and not r.hi_inc
    assert parse_query_string("n_chars:>5") == FieldRange(
        "n_chars", "5", None, False, True)
    assert parse_query_string("n_chars:<=5").hi == "5"
    assert parse_query_string("n_chars:>-5").lo == "-5"


def test_not_adjacency_is_prohibited_clause():
    """Lucene query_string: a NOT clause at the SHOULD level is prohibited —
    'a NOT b' = docs matching a AND lacking b (never Or(a, Not(b)))."""
    n = parse_query_string("a NOT b")
    assert n == And([Term("a"), Not(Term("b"))])
    # explicit OR NOT folds the same way (classic Lucene behavior)
    assert parse_query_string("a OR NOT b") == And([Term("a"), Not(Term("b"))])
    # multiple positives keep their OR, negatives conjoin
    n = parse_query_string("a b NOT c")
    assert n == And([Or([Term("a"), Term("b")]), Not(Term("c"))])
    # pure-negative query: all prohibited
    assert parse_query_string("NOT a NOT b") == And(
        [Not(Term("a")), Not(Term("b"))])
    # AND-level NOT is untouched
    assert parse_query_string("a AND NOT b") == And([Term("a"), Not(Term("b"))])


def test_dsl_subset():
    ast = dsl_to_ast({"bool": {
        "filter": [{"range": {"n_chars": {"gte": 1, "lt": 9}}}],
        "should": [{"term": {"lang": "en"}}, {"terms": {"lang": ["de", "fr"]}}],
        "must_not": [{"exists": {"field": "source"}}],
    }})
    assert isinstance(ast, And)
    # ES minimum_should_match default = 0 when must/filter present: the
    # should clauses must NOT appear in the filter-context translation
    assert not any(isinstance(p, Or) for p in ast.parts)
    # ...but an explicit minimum_should_match >= 1 restores the requirement
    ast2 = dsl_to_ast({"bool": {
        "filter": [{"range": {"n_chars": {"gte": 1}}}],
        "should": [{"term": {"lang": "en"}}],
        "minimum_should_match": 1,
    }})
    assert any(isinstance(p, (Or, FieldEq)) for p in ast2.parts[1:])
    # should alone: minimum_should_match defaults to 1 → restricts
    ast3 = dsl_to_ast({"bool": {"should": [{"term": {"lang": "en"}}]}})
    assert ast3 == Or([FieldEq("lang", "en")])
    assert dsl_to_ast({"match_all": {}}) == MatchAll()
    qs = dsl_to_ast({"query_string": {"query": "lang:en"}})
    assert qs == FieldEq("lang", "en")
    assert dsl_to_ast({"fuzzy": {"text": "x"}}) == Fuzzy("x", 2)
    assert dsl_to_ast({"prefix": {"source": "src1"}}) == FieldWildcard(
        "source", "src1*")
    assert dsl_to_ast({"match_phrase": {"text": {"query": "a b", "slop": 3}}}
                      ) == Phrase("a b", slop=3)
    assert dsl_to_ast({"match": {"text": "key order"}}) == Or(
        [Term("key"), Term("order")])
    assert dsl_to_ast({"match": {"text": {"query": "key"}}}) == Term("key")
    with pytest.raises(ValueError):
        dsl_to_ast({"more_like_this": {"fields": ["text"]}})


def test_regexp_atoms_parse_and_dialect_guard():
    """`/re/` parses to Regexp, `field:/re/` to FieldRegexp, the DSL regexp
    kind maps by field, and non-portable dialects (anchors, backslash
    escapes, Lucene ~complement) are rejected at parse — a silently
    divergent regex would pass one backend and fail the oracle."""
    from ee_outliers_spark.queryparser import (
        FieldRegexp, Regexp, dsl_to_ast, parse_query_string,
    )

    assert parse_query_string("/cust[oe]mer/") == Regexp("cust[oe]mer")
    assert parse_query_string("source:/src[0-9]/") == FieldRegexp(
        "source", "src[0-9]")
    assert dsl_to_ast({"regexp": {"text": {"value": "ab+c"}}}) == Regexp(
        "ab+c")
    assert dsl_to_ast({"regexp": {"lang": "e."}}) == FieldRegexp(
        "lang", "e.")
    assert parse_query_string("/x[^ab]y/") == Regexp("x[^ab]y")  # class neg
    # a regexp after another atom is one more default-OR operand
    assert parse_query_string("window /cust[oe]mer/^2") == Or([
        Term("window"), Regexp("cust[oe]mer", boost=2.0)])
    for bad in [r"/a\d/", "/^abc/", "/a$b/", "//"]:
        with pytest.raises(ValueError):
            parse_query_string(bad)
    with pytest.raises(ValueError):  # DSL path validates the dialect too
        dsl_to_ast({"regexp": {"text": {"value": r"a\d"}}})


def test_regexp_brace_and_class_divergences_rejected():
    """Round-4 ADVICE: brace/class malformations that DIVERGE across the
    three engines must be rejected, not silently compiled — 'a{,3}' is
    {0,3} in Python, literal in RE2, PatternSyntaxException in Java;
    'a{2'/'a{b}' are literal in Python/RE2 but crash Spark at executor
    runtime; '[[a]]' is nested-class union in Java, literal '[' in
    Python/RE2; '[]x]'/'[^]x]' are literal ']' in Python/RE2, unclosed
    class in Java."""
    from ee_outliers_spark.queryparser import regexp_token_body

    for ok in ["a{2,3}", "a{2}", "a{10,}", "x[{]y", "a[}]b",
               "(a|b){1,2}c", "[a-z0-9]{3}"]:
        assert regexp_token_body(ok) == ok
    for bad in ["a{,3}", "a{2", "a{b}", "a{}", "a{2,3", "a}", "[[a]]",
                "[]x]", "[^]x]", "[abc", "a{2,}}"]:
        with pytest.raises(ValueError):
            regexp_token_body(bad)
        with pytest.raises(ValueError):
            regexp_token_body(bad, lower=False)


def test_field_regexp_case_sensitive_keyword_semantics():
    """Round-4 ADVICE: FieldRegexp matches the raw keyword value as typed
    (ES keyword regexp is case-sensitive, FieldEq parity) — the pattern is
    no longer lowercased, so /SRC[0-9]/ can match 'SRC1' and does NOT
    match 'src1'."""
    from ee_outliers_spark.queryparser import (
        FieldRegexp, parse_query_string, regexp_token_body,
        to_python_predicate,
    )

    assert regexp_token_body("SRC[0-9]", lower=False) == "SRC[0-9]"
    node = parse_query_string("source:/SRC[0-9]/")
    assert node == FieldRegexp("source", "SRC[0-9]")
    pred = to_python_predicate(node, "text", ["doc_id", "source", "text"])
    assert pred({"doc_id": 1, "source": "SRC1", "text": ""})
    assert not pred({"doc_id": 2, "source": "src1", "text": ""})
    # analyzed-text atoms still lower (tokens are lowercase)
    assert regexp_token_body("CUST[OE]MER") == "cust[oe]mer"


def test_dsl_minimum_should_match_at_least_n():
    """msm >= 2 compiles an exact at-least-N boolean (round-3 ADVICE: it was
    silently weakened to at-least-1), verified via the python compiler over
    hand-made rows; msm == n → And; msm > n → matches nothing."""
    from ee_outliers_spark.queryparser import to_python_predicate

    should = [{"match": {"text": "aa"}}, {"match": {"text": "bb"}},
              {"match": {"text": "cc"}}]
    cols = ["doc_id", "text"]

    def matches(msm, text):
        ast = dsl_to_ast({"bool": {"should": should,
                                   "minimum_should_match": msm}})
        return to_python_predicate(ast, "text", cols)(
            {"doc_id": 1, "text": text})

    for text, n_hits in [("aa bb cc", 3), ("aa bb x", 2), ("aa x y", 1),
                         ("x y z", 0)]:
        for msm in (1, 2, 3):
            assert matches(msm, text) == (n_hits >= msm), (text, msm)
        assert matches(4, text) is False  # msm > clause count: never matches
    ast_all = dsl_to_ast({"bool": {"should": should,
                                   "minimum_should_match": 3}})
    assert isinstance(ast_all, And)
    with pytest.raises(ValueError):
        dsl_to_ast({"bool": {
            "should": [{"match": {"text": f"t{i}"}} for i in range(30)],
            "minimum_should_match": 15,
        }})


QUERIES = [
    "fast",
    '"key order"',
    "fast AND slow",
    "fast OR zebra",
    "fast -slow",
    "fast AND (lang:en OR lang:de)",
    "_exists_:lang AND fast",
    "n_chars:128",
    'source:"src0" AND fast',
    "NOT (fast OR slow)",
    "the AND batch AND stream",
    "zebraqqq",  # zero matches
    "n_chars:[100 TO 300]",
    "n_chars:{100 TO 300}",
    "n_chars:[* TO 150] AND lang:en",
    "n_chars:>=250 OR n_chars:<50",
    "fast NOT lang:de",
    "fast NOT slow",
    "fast slow NOT zebra",
    # Lucene multi-term / proximity forms (shipped verbatim to ES by the
    # reference, so part of its accepted surface)
    "fas*",
    "f?st OR zebra",
    "fash~1",
    "fast~",
    'lang:e? AND fast',
    'source:src1* AND NOT fas*',
    '"key order"~2',
    '"order key"~2',
    '"order key"~1',  # reversed adjacency costs 2 — must NOT match as slop 1
    "zzz* AND fast",
    "*",
    "lang:(en OR de) AND fast",
    "lang:(en de)",          # adjacency inside a field group is OR
    "source:(src1 OR src1*) AND NOT lang:(zh)",
    "lang:* AND fast",       # field:* = exists
    # Lucene regexp atoms (round 4): token-level /re/, keyword field:/re/
    "/f[a-z]st/",
    "/fa(st|ke)/ AND slow",
    "NOT /sl.w/ AND fast",
    "source:/src[0-9]/ AND /th[ae]/",
    "lang:(/e[ns]/ OR de)",  # regexp inside a field group → FieldRegexp
    "/fa{1,2}st/",           # brace quantifier (validated complete form)
    "/f[a-z]{3}/ AND NOT lang:de",
    "source:/SRC[0-9]/",     # case-sensitive keyword regexp: matches nothing
]

DSL_QUERIES = [
    {"range": {"n_chars": {"gte": 100, "lte": 300}}},
    {"bool": {"filter": [{"range": {"n_chars": {"gt": 50}}}],
              "must_not": [{"term": {"lang": "de"}}]}},
    {"terms": {"lang": ["en", "fr"]}},
    {"match_all": {}},
    {"prefix": {"source": "src1"}},
    {"wildcard": {"lang": {"value": "e?"}}},
    {"fuzzy": {"text": {"value": "custoner", "fuzziness": 1}}},
    {"match_phrase": {"text": {"query": "order key", "slop": 2}}},
    {"bool": {"must": [{"match_phrase": {"text": "key order"}}],
              "must_not": [{"wildcard": {"source": "src1*"}}]}},
]


@pytest.mark.parametrize("d", DSL_QUERIES)
def test_dsl_three_way_agreement(d, spark, documents, sf_dir):
    node = dsl_to_ast(d)
    spark_ids = sorted(
        r[0] for r in documents.where(
            to_spark_predicate(node, "text", COLS)
        ).select("doc_id").collect()
    )
    sql = to_duckdb_sql(node, "text", COLS)
    duck_ids = sorted(
        r[0] for r in duckdb.sql(
            f"select doc_id from '{sf_dir}/documents.parquet' where {sql}"
        ).fetchall()
    )
    pred = to_python_predicate(node, "text", COLS)
    rows = [r.asDict() for r in documents.collect()]
    py_ids = sorted(r["doc_id"] for r in rows if pred(r))
    assert spark_ids == duck_ids == py_ids


@pytest.mark.parametrize("q", QUERIES)
def test_three_way_predicate_agreement(q, spark, documents, sf_dir):
    node = parse_query_string(q)
    spark_ids = sorted(
        r[0] for r in documents.where(
            to_spark_predicate(node, "text", COLS)
        ).select("doc_id").collect()
    )
    sql = to_duckdb_sql(node, "text", COLS)
    duck_ids = sorted(
        r[0] for r in duckdb.sql(
            f"select doc_id from '{sf_dir}/documents.parquet' where {sql}"
        ).fetchall()
    )
    pred = to_python_predicate(node, "text", COLS)
    rows = [r.asDict() for r in documents.collect()]
    py_ids = sorted(r["doc_id"] for r in rows if pred(r))
    assert spark_ids == duck_ids == py_ids
