"""Analyzer layer vs hand-computed oracles on crafted micro-data:
terms within/across and metrics (incl. whitelist-retract fixpoint),
simplequery must_not, sudden_appearance window semantics."""

import datetime as dt

from pyspark.sql import functions as F

from ee_outliers_spark.operators.metrics_analyzer import metrics_outliers
from ee_outliers_spark.operators.simplequery import highlight_terms, simplequery_outliers
from ee_outliers_spark.operators.sudden import sudden_appearance, window_schedule
from ee_outliers_spark.operators.terms import terms_outliers


def test_terms_within_float_frontier(spark):
    # group A: target counts x:1 y:1 z:5 -> float frontier 3.0 high flags z docs
    rows = [("A", t) for t in ["x", "y", "z", "z", "z", "z", "z"]]
    rows += [("B", t) for t in ["u", "u"]]  # count 2 < 3 -> not flagged
    df = spark.createDataFrame(rows, "grp string, tgt string").withColumn(
        "rid", F.monotonically_increasing_id()
    )
    out = terms_outliers(df, ["grp"], "tgt", "within_aggregator", "float", 3.0, "high")
    got = {(r["grp"], r["tgt"]) for r in out.collect()}
    assert got == {("A", "z")}
    assert out.count() == 5  # every z doc flagged


def test_terms_across_global_frontier(spark):
    # distinct targets per agg: A=5, B=2, C=1; float frontier 3 high flags all A docs
    rows = [("A", t) for t in "vwxyz"] + [("B", t) for t in "vv w".split()] + [("C", "q")]
    df = spark.createDataFrame(rows, "grp string, tgt string")
    out = terms_outliers(df, ["grp"], "tgt", "across_aggregators", "float", 3.0, "high")
    got = out.select("grp").distinct().collect()
    assert {r["grp"] for r in got} == {"A"}
    assert out.count() == 5


def test_terms_whitelist_fixpoint(spark):
    # z flagged (count 5 vs others 1); z docs whitelisted -> retract, recompute:
    # remaining counts x:1 y:1 -> pct_of_max 99% high: frontier .99, both >? no:
    # 1 > 0.99 -> both flagged. Use float 3.0: after retract nothing crosses.
    rows = [("A", t) for t in ["x", "y", "z", "z", "z", "z", "z"]]
    df = spark.createDataFrame(rows, "grp string, tgt string")
    out = terms_outliers(
        df, ["grp"], "tgt", "within_aggregator", "float", 3.0, "high",
        whitelist_literals=[["z"]],
    )
    assert out.count() == 0


def test_metrics_whitelist_fixpoint(spark):
    # lengths 2×6, 5, 40; stdev 1.5 high (population σ): pass 1 frontier
    # 25.8 flags only the 40-char row, which is whitelisted; pass 2 over the
    # rest has frontier 4.0 and flags the 5-char row. A single pass followed
    # by a whitelist filter would return nothing.
    long_val = "x" * 40
    rows = [("g", "aa")] * 6 + [("g", "ccccc"), ("g", long_val)]
    df = spark.createDataFrame(rows, "grp string, val string")
    out = metrics_outliers(
        df, ["grp"], "val", "length", "stdev", 1.5, "high",
        whitelist_literals=[[long_val]],
    )
    assert [(r["val"], r["metric_value"]) for r in out.collect()] == [
        ("ccccc", 5.0)]


def test_terms_min_target_buckets(spark):
    rows = [("A", t) for t in ["x", "y", "z", "z", "z"]] + [("B", "u"), ("B", "u")]
    df = spark.createDataFrame(rows, "grp string, tgt string")
    # B has 1 distinct target < 2 -> skipped entirely
    out = terms_outliers(
        df, ["grp"], "tgt", "within_aggregator", "float", 1.5, "high",
        min_target_buckets=2,
    )
    assert {r["grp"] for r in out.collect()} == {"A"}


def test_terms_non_outlier_sample_observation(spark):
    """Ref A10: ≤3 non-outlier target values recorded per aggregator
    (deterministic 3-smallest divergence, documented)."""
    rows = [("A", t) for t in
            ["x", "y", "w", "v", "z", "z", "z", "z", "z"]]
    df = spark.createDataFrame(rows, "grp string, tgt string")
    out = terms_outliers(df, ["grp"], "tgt", "within_aggregator",
                         "float", 3.0, "high")
    samples = {r["non_outlier_values_sample"] for r in out.collect()}
    assert samples == {"v,w,x"}  # 3 smallest of {x,y,w,v}


def test_terms_bucket_caps(spark):
    """Ref T2 parity: max_num_targets keeps only the N largest target
    buckets per aggregator before the frontier."""
    from ee_outliers_spark.operators.terms import terms_within

    rows = (["A"] * 5 + ["A"] * 3 + ["A"] * 1)
    tgts = ["z"] * 5 + ["y"] * 3 + ["x"] * 1
    df = spark.createDataFrame(list(zip(rows, tgts)), "grp string, tgt string")
    capped = terms_within(df, ["grp"], "tgt", "float", 0.5, "high",
                          max_num_targets=2)
    # x's bucket is truncated away entirely (docs with x don't even join)
    assert {r["tgt"] for r in capped.collect()} == {"z", "y"}


def test_metrics_decoded_word_observation(spark):
    from ee_outliers_spark.operators.metrics_analyzer import metrics_values

    df = spark.createDataFrame(
        [(1, "g", "payload aGVsbG8gd29ybGQh and 48656c6c6f20576f726c6421ff"),
         (2, "g", "plain words only")],
        "doc_id long, grp string, txt string",
    )
    b64 = metrics_values(df, ["grp"], "txt", "base64_encoded_length").collect()
    assert {r["doc_id"]: r["observation"] for r in b64} == {1: "hello world!"}
    hexv = metrics_values(df, ["grp"], "txt", "hex_encoded_length").collect()
    assert {r["doc_id"]: r["observation"] for r in hexv} == {
        1: "48656c6c6f20576f726c6421ff"}


def test_metrics_length_float(spark):
    rows = [("g", "aa"), ("g", "bbb"), ("g", "cccccccc"), ("h", "dd")]
    df = spark.createDataFrame(rows, "grp string, val string")
    out = metrics_outliers(df, ["grp"], "val", "length", "float", 5.0, "high")
    got = [(r["grp"], r["val"], r["metric_value"]) for r in out.collect()]
    assert got == [("g", "cccccccc", 8.0)]


def test_metrics_numerical_skips_unparseable(spark):
    rows = [("g", "10"), ("g", "nope"), ("g", "100")]
    df = spark.createDataFrame(rows, "grp string, val string")
    out = metrics_outliers(
        df, ["grp"], "val", "numerical_value", "float", 50.0, "high"
    )
    assert [r["val"] for r in out.collect()] == ["100"]


def test_simplequery_must_not(spark):
    df = spark.createDataFrame(
        [(1, "powershell hidden window", "en"),
         (2, "powershell plain", "en"),
         (3, "calc", "en")],
        "doc_id long, text string, lang string",
    )
    prior = spark.createDataFrame([(1,)], "doc_id long")
    out = simplequery_outliers(df, "powershell", prior_results=prior)
    assert [r["doc_id"] for r in out.collect()] == [2]


def test_highlight(spark):
    df = spark.createDataFrame(
        [(1, "powershell hidden window"), (2, "nothing here")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: list(r["h"])
        for r in df.select(
            "doc_id", highlight_terms('powershell AND "hidden window"').alias("h")
        ).collect()
    }
    assert got[1] == ["powershell", "hidden window"]
    assert got[2] == []


def test_highlight_fragments_value_tags(spark):
    """ES highlight parity: matches wrapped <value>…</value> in the original
    field value; extraction regex recovers the matched values
    (ref es.py:567-587, simplequery.py:83-93)."""
    from ee_outliers_spark.operators.simplequery import (
        extract_matched_values, highlight_fragment,
    )

    df = spark.createDataFrame(
        [(1, "PowerShell spawned a Hidden Window now"),
         (2, "nothing to see")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["frag"], list(r["vals"]))
        for r in df.select(
            "doc_id",
            highlight_fragment('powershell AND "hidden window"').alias("frag"),
        ).select(
            "doc_id", "frag", extract_matched_values("frag").alias("vals")
        ).collect()
    }
    assert got[1][0] == ("<value>PowerShell</value> spawned a "
                         "<value>Hidden Window</value> now")
    assert got[1][1] == ["PowerShell", "Hidden Window"]
    assert got[2] == ("nothing to see", [])


def test_window_schedule_final_clamp():
    start = dt.datetime(2024, 1, 1)
    end = dt.datetime(2024, 1, 10)
    size, step = dt.timedelta(days=3), dt.timedelta(days=2)
    wins = window_schedule(start, end, size, step)
    # advancing windows 1/1-1/4, 1/3-1/6, 1/5-1/8, 1/7-1/10 would hit end ->
    # loop runs while e < end; final clamp [end-step, end]
    assert wins[0][1:] == (start, dt.datetime(2024, 1, 4))
    assert wins[-1][1:] == (dt.datetime(2024, 1, 8), end)  # clamped, size=step
    # single-scan case: size == history
    assert window_schedule(start, start + size, size, step) == [(0, start, start + size)]


def test_sudden_appearance_semantics(spark):
    start = dt.datetime(2024, 1, 1)
    end = dt.datetime(2024, 1, 5)
    size, step = dt.timedelta(days=2), dt.timedelta(days=1)
    # (grp g, target t1): first occurrence 1/1 00:00 -> in window [1/1,1/3]
    #   it is earliest and 1/1 is NOT in last step (1/2,1/3] -> not flagged there;
    #   in window [1/2,1/4] earliest occurrence of t1 is 1/3 12:00 (in last step
    #   (1/3,1/4]) -> flagged.
    rows = [
        (1, dt.datetime(2024, 1, 1, 0), "g", "t1"),
        (2, dt.datetime(2024, 1, 3, 12), "g", "t1"),
        (3, dt.datetime(2024, 1, 1, 6), "g", "t2"),  # only early -> never flagged
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, grp string, tgt string")
    out = sudden_appearance(df, ["grp"], "tgt", "ts", start, end, size, step)
    flagged = {(r["event_id"], r["w_id"]) for r in out.collect()}
    assert 2 in {e for e, _ in flagged}
    assert 3 not in {e for e, _ in flagged}
    assert 1 not in {e for e, _ in flagged}


def test_nested_field_drops_sentence_x10(spark):
    """Ref X10 (app/helpers/utils.py:160-184): a dict, or a list containing
    lists/dicts, flattens to None — every sentence touching such a field is
    dropped. Array-of-scalars still expands (X11)."""
    from ee_outliers_spark.operators.terms import terms_outliers

    rows = [
        (1, "g1", [["a", "b"], ["c"]]),
        (2, "g1", [["d"]]),
        (3, "g2", [["e"], ["f"]]),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, grp string, tgt array<array<string>>")
    out = terms_outliers(df, ["grp"], "tgt", "across_aggregators",
                         "float", 99.0, "low")
    assert out.count() == 0  # nested list target → no sentences at all

    # struct-typed aggregator behaves the same (dict → None)
    df2 = spark.createDataFrame(
        [(1, ("x", 1), "t1"), (2, ("y", 2), "t2")],
        "event_id long, grp struct<a:string,b:long>, tgt string")
    out2 = terms_outliers(df2, ["grp"], "tgt", "across_aggregators",
                          "float", 99.0, "low")
    assert out2.count() == 0

    # control: flat scalars with the same shape DO produce sentences
    # (t1 appears in 2 aggregators, t2 in 1 → t2 is below the float-2 frontier)
    df3 = spark.createDataFrame(
        [(1, "g1", "t1"), (2, "g2", "t1"), (3, "g2", "t2")],
        "event_id long, grp string, tgt string")
    out3 = terms_outliers(df3, ["grp"], "tgt", "across_aggregators",
                          "float", 2.0, "low")
    assert out3.count() > 0


def test_highlight_wildcard_atoms(spark):
    """Wildcard atoms highlight every matching token (case-preserving,
    value-wrapped) and report the pattern in the matched-terms array."""
    from ee_outliers_spark.operators.simplequery import (
        extract_matched_values, highlight_fragment, highlight_terms,
    )

    df = spark.createDataFrame(
        [(1, "The Customer opened a custom Window"), (2, "no match")],
        "id long, text string")
    out = df.select(
        "id",
        highlight_fragment("cust* AND window", "text").alias("frag"),
        highlight_terms("cust* AND window", "text").alias("hits"),
    ).orderBy("id").collect()
    assert out[0]["frag"] == ("The <value>Customer</value> opened a "
                              "<value>custom</value> <value>Window</value>")
    assert list(out[0]["hits"]) == ["window", "cust*"]
    assert out[1]["frag"] == "no match"
    vals = df.select(extract_matched_values(
        highlight_fragment("cust*", "text")).alias("v")).orderBy(
        F.lit(1)).collect()
    assert sorted(list(vals[0]["v"]) + list(vals[1]["v"])) == [
        "Customer", "custom"]


def test_sudden_docs_lag_formulation_matches_explode_minby(spark):
    """sudden_appearance_docs (lag formulation, no window fan-out) must
    flag exactly the docs the explode+min_by operator flags — including
    window-start/final-step boundary timestamps (µs precision), events
    outside [start, end], the final clamped scan, and the single-window
    (size == history) case."""
    import datetime as dt

    from ee_outliers_spark.operators.sudden import sudden_appearance_docs

    S = dt.datetime(2024, 1, 1)
    E = dt.datetime(2024, 1, 5)
    rows, i = [], 0

    def add(ts, g="u1", t="a"):
        nonlocal i
        rows.append((i, g, t, ts))
        i += 1

    for h in [0, 4, 8, 7.99999, 8.000001, 11.9999997, 12, 12.0000003,
              20, 95.9999, 96, 96.0001, 92, 91.9999997]:
        add(S + dt.timedelta(hours=h))
    add(S + dt.timedelta(hours=1), "u2", "x")
    add(S + dt.timedelta(hours=9), "u2", "x")
    add(S + dt.timedelta(hours=9, microseconds=1), "u2", "x")
    add(S + dt.timedelta(hours=13), "u2", "x")
    add(S - dt.timedelta(hours=5), "u3", "y")
    add(E + dt.timedelta(hours=5), "u3", "y")
    add(E - dt.timedelta(hours=2), "u3", "y")
    add(E, "u4", "z")
    add(E - dt.timedelta(hours=4), "u4", "z2")
    add(E - dt.timedelta(hours=4) + dt.timedelta(microseconds=1), "u4", "z3")
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, event_type string, ts timestamp")

    for size_h, step_h in [(12, 4), (96, 4), (96, 96), (12, 12)]:
        size, step = dt.timedelta(hours=size_h), dt.timedelta(hours=step_h)
        want = {
            r[0] for r in sudden_appearance(
                df, ["user_id"], "event_type", "ts", S, E, size, step,
                payload_cols=["event_id"]).select("event_id").collect()}
        got = {
            r[0] for r in sudden_appearance_docs(
                df, ["user_id"], "event_type", "ts", S, E, size, step,
                key_col="event_id").collect()}
        assert got == want, (size_h, step_h, sorted(got ^ want))
