"""Nested-document access (X8/X9), multi-valued sentence expansion (X11)."""

import pytest

from ee_outliers_spark.functions.nested import dig, flatten_schema_paths
from ee_outliers_spark.operators.terms import expand_multivalued, terms_outliers
from ee_outliers_spark.queryparser import (
    parse_query_string, to_python_predicate, to_spark_predicate,
)


@pytest.fixture(scope="module")
def nested_df(spark):
    rows = [
        (1, ("alice", ("10.0.0.1", 22))),
        (2, ("bob", ("192.168.1.9", 443))),
        (3, (None, ("8.8.8.8", 53))),
    ]
    return spark.createDataFrame(
        rows,
        "doc_id long, meta struct<user string, "
        "conn struct<ip string, port long>>",
    )


def test_flatten_schema_paths(nested_df):
    assert flatten_schema_paths(nested_df.schema) == [
        "doc_id", "meta.user", "meta.conn.ip", "meta.conn.port",
    ]


def test_nested_field_predicates(nested_df):
    """Dotted case-insensitive resolution through structs (ref X8
    utils.py:47-76) for Spark and the Python oracle."""
    cols = flatten_schema_paths(nested_df.schema)
    node = parse_query_string("META.CONN.PORT:[50 TO 500]")
    ids = sorted(
        r["doc_id"] for r in
        nested_df.where(to_spark_predicate(node, "doc_id", cols)).collect()
    )
    assert ids == [2, 3]
    pred = to_python_predicate(node, "doc_id", cols)
    rows = [r.asDict(recursive=True) for r in nested_df.collect()]
    assert sorted(r["doc_id"] for r in rows if pred(r)) == [2, 3]
    assert dig(rows[0], "Meta.Conn.Ip") == "10.0.0.1"
    assert dig(rows[0], "meta.nope") is None


def test_expand_multivalued(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b"], "x"), (2, [], "y"), (3, ["c"], "z")],
        "doc_id long, tags array<string>, host string",
    )
    out = expand_multivalued(df, ["tags", "host"])
    got = sorted((r["doc_id"], r["tags"]) for r in out.collect())
    # cartesian expansion; empty array -> no sentences (ref utils.py:192-230)
    assert got == [(1, "a"), (1, "b"), (3, "c")]


def test_terms_with_array_aggregator(spark):
    df = spark.createDataFrame(
        [(1, ["h1"], "p1"), (2, ["h1"], "p1"), (3, ["h1", "h2"], "p1"),
         (4, ["h2"], "p2")],
        "doc_id long, hosts array<string>, proc string",
    )
    out = terms_outliers(df, ["hosts"], "proc", "within_aggregator",
                         "float", 2.5, "high")
    # h1/p1 count=3 > 2.5 -> docs 1,2,3 flagged (3 via its h1 sentence)
    assert sorted({r["doc_id"] for r in out.collect()}) == [1, 2, 3]

