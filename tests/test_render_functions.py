"""Placeholder rendering, summary wrap, metric scalar functions vs
reference-spec oracles."""

import math
import textwrap

import numpy as np
import pytest

from ee_outliers_spark.functions.metrics import metric_column
from ee_outliers_spark.functions.render import render_template, wrap_summary


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "host-A", ["t1", "t2"], "some text")],
        "doc_id long, hostname string, tags array<string>, text string",
    )


def test_render_template(spark, docs):
    tpl = "host {HostName} tags {tags} missing {nope} end"
    got = docs.select(render_template(tpl, docs).alias("s")).collect()[0]["s"]
    assert got == "host host-A tags t1,t2 missing {field nope not found in event} end"


def test_wrap_summary(spark):
    long = "word " * 60
    df = spark.createDataFrame([(long.strip(),)], "s string")
    got = df.select(wrap_summary("s").alias("w")).collect()[0]["w"]
    assert got == textwrap.fill(long.strip(), width=150)


# --- metric functions vs numpy/python oracles ---------------------------------

def _entropy_oracle(s):
    b = np.frombuffer(s.encode(), dtype=np.uint8)
    c = np.bincount(b, minlength=256).astype(float)
    p = c[c > 0] / len(b)
    return float(-(p * np.log2(p)).sum())


CASES = [
    ("length", "hello", 5.0),
    ("numerical_value", "12.5", 12.5),
    ("numerical_value", "junk", None),
    ("hex_encoded_length", "run deadbeefcafebabe12 now", 18.0),
    ("hex_encoded_length", "short beef", None),
    ("base64_encoded_length", "payload aGVsbG8gd29ybGQ= end", 11.0),
    ("base64_encoded_length", "no b64 here", None),
    ("url_length", "go https://example.com/a now", float(len("https://example.com/a"))),
    ("url_length", "no urls", None),
]


@pytest.mark.parametrize("metric,value,want", CASES)
def test_metric_values(metric, value, want, spark):
    df = spark.createDataFrame([(value,)], "v string")
    got = df.select(metric_column(metric, "v").alias("m")).collect()[0]["m"]
    if want is None:
        assert got is None
    else:
        assert math.isclose(got, want), (metric, value, got, want)


def test_entropy_matches_numpy(spark):
    vals = ["aaaa", "abcd", "hello world", "x"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r["m"] for r in df.select(metric_column("entropy", "v").alias("m")).collect()]
    for g, v in zip(got, vals):
        assert math.isclose(g, _entropy_oracle(v), rel_tol=1e-12)

